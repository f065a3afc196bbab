#!/usr/bin/env python3
"""graft benchmark: seeded closed-loop workloads over the gate registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the library and the
benchmark (perfbench/build.py) into .bench_build/. Each run then
generates the workload's fixture from the seed (perfbench/gen.py),
drives one Spark session with a single closed-loop client
(graftbench.Main), checks every gate's answer against the DuckDB oracle
(perfbench/oracle.py) and prints the metrics; the last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Workloads (fixed gate lists, see WORKLOADS; the seed fixes the generated
data and the gate order):
  interactive_mix  short non-iterative gates, one after another
  iterative_loops  a gate whose builder call itself runs dozens of jobs

End-to-end metrics (one closed-loop client, tracing off):
  setup_s       JVM start to the end of the last untimed pass: session
                build, the pass that writes the answers for the oracle
                check and the fixed further warm-up passes
  makespan_s    wall time of one timed pass over the gate list (median pass)
  query_p50_s   median gate latency (builder call + action)
  query_tail_s  latency at the highest percentile with >= 10 samples beyond
                it (the median when a run has 10 samples or fewer)
  failed_frac   executions that threw or returned an empty or wrong answer,
                over executions attempted (sent as the `failed` count)
  peak_rss_mb   the Spark driver JVM's VmHWM at a fixed -Xms = -Xmx heap
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# per-run budget after the one-off build of a checkout
DEADLINE_S = 170
PREPARE_S = 700
DEFAULT_SEED = 1

# scale of the generated fixture (1.0 would be TPC-H-ish sf1)
SCALE = 0.01
# Untimed passes after the session build are fixed per workload (`warm`
# in WORKLOADS). The pass total keeps falling for tens of passes (JIT
# warm-up), longer than a run can wait; a fixed count starts every run's
# window at the same point of it.
# The planner code a gate runs is lukewarm: each method is called a few
# times per pass, so at the default thresholds it takes tens of passes to
# be compiled, and the timed window sat on the warm-up slope. A quarter of
# the thresholds moves most of the slope into the untimed passes.
JIT_FLAGS = ["-XX:CompileThresholdScaling=0.25"]
# local[k] with k = min(CORES, nproc), shuffle partitions k. Stages here
# run one or two tasks, so more task threads buy nothing; they only
# compete with the driver thread and the JIT for the host's few cores
CORES = 2

# Each workload's gate list is fixed for a version of the benchmark, so a
# change to the library cannot move a gate from one workload to another.
# interactive_mix is every 40th registry gate by name; iterative_loops is
# GraphOps connected components, the slowest gate of the registry and the
# fixpoint loop the CC-based dedup and curation gates run (37 jobs in its
# builder call when the lists were fixed). Traced runs report every gate
# whose builder-call job count contradicts its list. The heap is one each
# workload fills: at 2 GB the loop gate touched a varying part of it, so
# its peak resident set varied by 20% from run to run. The loop gate's
# passes still fell steeply through a 20 s window after three untimed
# passes, so it gets two more.
WORKLOADS = {
    "interactive_mix": {
        "xmx": "2g", "warm": 3,
        "gates": ["q_add_const_copy", "q_dedup_minhash_sig", "q_fuzz_12", "q_fuzz_52",
                  "q_graph_remove_cycles", "q_sample_col_uniq", "q_to_json_records"]},
    "iterative_loops": {"xmx": "1g", "warm": 5, "gates": ["q_graph_cc"]},
}
# the gates whose build spans are iterative operators' loops; traced runs
# of every workload report their latency and job count
LOOP_GATES = WORKLOADS["iterative_loops"]["gates"]

END_TO_END = [("setup_s", "s"), ("makespan_s", "s"), ("query_p50_s", "s"),
              ("query_tail_s", "s"), ("failed_frac", "frac"), ("peak_rss_mb", "MB")]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class Env:
    """Paths of one checkout's build directory."""

    def __init__(self):
        self.build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        self.run = os.path.join(self.build, "run")
        os.makedirs(self.build, exist_ok=True)


def cores():
    return max(1, min(CORES, os.cpu_count() or 1))


def java(env, classes, xmx, args, deadline, log_name):
    """Run graftbench.Main in its own process group; kill it at the deadline."""
    import build
    scratch = os.path.join(env.run, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xms{xmx}", f"-Xmx{xmx}", "-Xss16m", "-XX:-UsePerfData"] + JIT_FLAGS +
           [f"-Djava.io.tmpdir={scratch}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args + ["--scratch", scratch])
    with open(os.path.join(env.run, log_name), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        with open(os.path.join(env.run, log_name)) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"graftbench.Main {args[0]} "
                         f"{'timed out' if rc is None else f'exited {rc}'}\n{tail}")


def fixture(env, scale, seed):
    import gen
    d = os.path.join(env.build, "data", f"s{scale}-seed{seed}")
    if not os.path.isfile(os.path.join(d, ".complete")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_fixture(d, scale, seed)
        open(os.path.join(d, ".complete"), "w").close()
    # keep the directory bounded: drop the least recently used fixtures
    root = os.path.join(env.build, "data")
    os.utime(d)
    olds = sorted((os.path.join(root, x) for x in os.listdir(root)), key=os.path.getmtime)
    for old in olds[:-8]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def registry(env, classes, key, deadline):
    """The registry's gate names and oracle SQL for this source tree."""
    path = os.path.join(env.build, f"registry-{key}.json")
    if not os.path.isfile(path):
        java(env, classes, "1g", ["registry", "--out", path + ".tmp"], deadline,
             "registry.log")
        os.replace(path + ".tmp", path)
    return json.load(open(path))


def percentile_tail(xs):
    """Latency at the highest whole percentile with >= 10 samples beyond it
    (nearest rank), never below the median; with 10 samples or fewer there
    is no such percentile and the median stands in. Returns (value,
    percentile, samples beyond)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return median(s), 50, n // 2
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p * n / 100))
    return max(s[rank - 1], median(s)), p, n - rank


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, verdicts, ref):
    """The six end-to-end metrics of a run plus (attempted, failed)."""
    timed = [e for e in res["execs"]
             if not any(p["traced"] for p in res["passes"] if p["pass"] == e["pass"])]
    failed = 0
    for e in timed:
        want = ref.get(e["gate"], {}).get("rows")
        if e["error"] or e["rows"] <= 0 or (want is not None and e["rows"] != want):
            failed += 1
    checks = sorted(verdicts)
    failed += sum(1 for g in checks if verdicts[g])
    attempted = len(timed) + len(checks)
    lat = [e["build_s"] + e["action_s"] for e in timed]
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    tail, pct, beyond = percentile_tail(lat)
    m = {
        "setup_s": res["setup_s"],
        "makespan_s": median(walls),
        "query_p50_s": median(lat),
        "query_tail_s": tail,
        "failed_frac": failed / max(attempted, 1),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return m, attempted, failed, (pct, beyond, len(lat))


def prepare(env):
    """Build the classes and list the registry (both cached per source
    tree). Fails when a fixed gate list names a gate the registry lacks.
    Returns (classes, oracle SQL)."""
    import build
    deadline = time.monotonic() + PREPARE_S
    classes, key = build.ensure(env.build)
    os.makedirs(env.run, exist_ok=True)
    reg = registry(env, classes, key, deadline)
    known = set(reg["registry"])
    for name, w in WORKLOADS.items():
        missing = [g for g in w["gates"] if g not in known]
        if not w["gates"] or missing:
            raise SystemExit(f"{name}: gate list empty or not in the registry: {missing}")
    return classes, reg["oracle_sql"]


def run_workload(env, classes, oracle_sql, name, seed, seconds, trace, deadline,
                 quick=False):
    import oracle
    w = WORKLOADS[name]
    scale = 0.001 if quick else SCALE
    gates = w["gates"]
    t0 = time.monotonic()
    data = fixture(env, scale, seed)
    shutil.rmtree(env.run, ignore_errors=True)
    os.makedirs(env.run)
    check_dir = os.path.join(env.run, "check")
    out = os.path.join(env.run, "result.json")
    args = ["run", "--data", data, "--gates", ",".join(gates),
            "--loop-gates", ",".join(LOOP_GATES), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores()), "--out", out, "--check-dir", check_dir,
            "--warm-passes", "1" if quick else str(w["warm"])]
    if quick:
        args += ["--min-passes", "2"]
    t1 = time.monotonic()
    java(env, classes, w["xmx"], args, deadline - 20, "run.log")
    t2 = time.monotonic()
    res = json.load(open(out))
    threads = cores()
    ref = oracle.reference(data, oracle_sql, gates,
                           os.path.join(env.build, "ref"), threads)
    verdicts = oracle.check(data, check_dir, gates, ref, threads)
    for g, err in res["check_errors"].items():
        if err:
            verdicts[g] = err
    shutil.rmtree(check_dir, ignore_errors=True)
    res["fingerprint"] = oracle.fingerprint(data)
    log(f"[{name}] wall: fixture {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, "
        f"oracle {time.monotonic() - t2:.1f}s")
    return res, verdicts, ref, gates


def report(name, res, verdicts, ref, gates, trace):
    m, attempted, failed, (pct, beyond, n) = end_to_end(res, verdicts, ref)
    h = res["host"]
    log(f"[{name}] seed={h['seed']} fixture={res['fingerprint']} k={h['cores']} "
        f"shuffle_partitions={h['shuffle_partitions']} xmx={h['xmx']} nproc={h['nproc']} "
        f"load_start={h['loadavg_start']} load_end={h['loadavg_end']} spark={h['spark']}")
    log(f"[{name}] gate order: {' '.join(h['gate_order'])}")
    log(f"[{name}] gates={len(gates)} session_s={res['session_s']:.3f} "
        f"untimed_passes_s={[round(x, 3) for x in res['warm_passes_s']]}")
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    if len(walls) >= 2:
        log(f"[{name}] timed passes={len(walls)} min={min(walls):.3f}s max={max(walls):.3f}s "
            f"spread={(max(walls) - min(walls)) / median(walls):.3f}")
    log(f"[{name}] query_tail_s is p{pct} with {beyond} of {n} samples beyond it")
    bad = {g: v for g, v in verdicts.items() if v}
    for g, v in sorted(bad.items()):
        log(f"[{name}] WRONG {g}: {v}")
    for e in res["execs"]:
        if e["error"]:
            log(f"[{name}] FAILED {e['gate']} pass {e['pass']}: {e['error']}")
    if res["kernel_missing"]:
        log(f"[{name}] kernel-plan check FAILED for {res['kernel_missing']}")
    correct = failed == 0 and not res["kernel_missing"]
    metrics = {}
    if trace:
        t = res["trace"]
        units = per_layer_units()
        for k in sorted(t["metrics"]):
            log(f"[{name}] {k} = {t['metrics'][k]:.6g} {units.get(k, '')}")
        log(f"[{name}] jobs traced={t['jobs_seen']} without a gate parent={t['orphan_jobs']}")
        for g, n in sorted(t["tag_mismatches"].items()):
            log(f"[{name}] NOTE {g} launched {n:g} jobs in its builder call, which "
                f"contradicts its {'loop' if g in LOOP_GATES else 'non-loop'} listing")
        correct = correct and t["orphan_jobs"] == 0
        metrics = {k: {"value": v, "unit": units[k]} for k, v in t["metrics"].items()
                   if k in units}
    else:
        for k, unit in END_TO_END:
            log(f"[{name}] {k} = {m[k]:.6g} {unit}")
        # failed_frac is 0 on a correct run, so it travels as `failed`
        metrics = {k: {"value": m[k], "unit": unit} for k, unit in END_TO_END
                   if k != "failed_frac"}
    return {"correct": bool(correct), "attempted": attempted, "failed": failed,
            "metrics": metrics}, m


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {x["name"]: x["unit"] for x in json.load(fh)["per_layer"]}


def self_test(env):
    """One quick pass per workload on the smallest fixture, traced; checks
    that every metric is produced with its unit, every job has a gate
    parent and the kernel-plan check passes."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    classes, oracle_sql = prepare(env)
    for name in WORKLOADS:
        deadline = time.monotonic() + DEADLINE_S
        res, verdicts, ref, gates = run_workload(env, classes, oracle_sql, name,
                                                 DEFAULT_SEED, 0, True, deadline, quick=True)
        out, m = report(name, res, verdicts, ref, gates, True)
        missing = [x["name"] for x in spec["per_layer"] if x["name"] not in out["metrics"]]
        missing += [x["name"] for x in spec["end_to_end"] if x["name"] not in m]
        problems = []
        if missing:
            problems.append(f"metrics not produced: {missing}")
        if res["trace"]["orphan_jobs"]:
            problems.append(f"{res['trace']['orphan_jobs']} jobs without a gate parent")
        if res["kernel_missing"]:
            problems.append(f"kernel expression missing from {res['kernel_missing']}")
        if not out["correct"]:
            problems.append(f"{out['failed']} of {out['attempted']} executions failed")
        print(f"self-test {name}: {'PASS' if not problems else 'FAIL ' + '; '.join(problems)}")
        ok = ok and not problems
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}: run from a checkout of the repository")
        return 2
    if shutil.which("java") is None:
        log("java not found")
        return 2
    env = Env()
    if a.self_test:
        return self_test(env)
    if not a.workload:
        ap.error("--workload is required")
    classes, oracle_sql = prepare(env)
    deadline = time.monotonic() + DEADLINE_S
    res, verdicts, ref, gates = run_workload(env, classes, oracle_sql, a.workload,
                                             a.seed, a.seconds, bool(a.trace), deadline)
    out, _ = report(a.workload, res, verdicts, ref, gates, bool(a.trace))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
