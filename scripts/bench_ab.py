#!/usr/bin/env python3
"""Same-session binary A/B bench (round-16, verdict item 1).

Runs the SAME gate subset with the SAME env through TWO compiled class
trees (e.g. HEAD vs a prior round's commit built in a worktree),
back-to-back in one box session, so a sweep-level elevation can be
attributed to code vs box state with a measurement instead of an
argument. Optionally follows with solo bands (fresh JVM, one gate,
N passes) on BOTH binaries for named gates.

Usage:
  bench_ab.py --sf-dir /tmp/sf10 --gates-from history/BENCH_FULL_r15_sf10.json \
      --arm r14=/tmp/r14ab/target/scala-2.13/classes \
      --arm head=/root/repo/target/scala-2.13/classes \
      --label "round 16" --out history/BENCH_SF10_AB_r16.json \
      [--passes 3] [--solo q_zorder_value --solo-passes 5] [--metrics]

The artifact records, per arm: the full per-query map (best/times/rows/
task metrics), the classes dir, and per-solo-gate bands; plus per-query
HEAD/first-arm ratios, their geomean, and the fixture stamp of --sf-dir.
Exit 0 iff every run was 0-failed and the executed gate sets match the
requested subset exactly.
"""
import argparse, json, math, os, subprocess, sys, tempfile
import fixture_stamp

OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
OPENS = [f for p in OPENS_PKGS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_bench(classes, sf_dir, gates, passes, metrics, shuffle_partitions):
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        bench_out = tf.name
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_QUERY_FILTER=",".join(gates),
               SPARK_GRAFT_BENCH_PASSES=str(passes),
               SPARK_GRAFT_BENCH_OUT=bench_out)
    if metrics:
        env["SPARK_GRAFT_TASK_METRICS"] = "1"
    if shuffle_partitions:
        env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(shuffle_partitions)
    cmd = (["java"] + OPENS +
           ["-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "32g"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:/opt/spark/jars/*", "graft.Bench"])
    rc = subprocess.run(cmd, env=env, stdout=subprocess.DEVNULL).returncode
    # A JVM that dies before writing bench_out leaves an empty temp file;
    # record a graceful FAIL instead of aborting and losing the completed
    # arm's sweep (ADVICE round 16).
    try:
        full = json.load(open(bench_out))
    except Exception as e:
        print(f"[bench_ab] WARN: no bench output ({e}) — recording FAIL",
              flush=True)
        full = {"value": None, "failed": -1, "queries": {}}
    finally:
        os.unlink(bench_out)
    return rc, full


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--gates-from", required=True,
                    help="BENCH_FULL artifact whose queries keys define the subset")
    ap.add_argument("--arm", action="append", required=True,
                    metavar="NAME=CLASSES_DIR")
    ap.add_argument("--label", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--shuffle-partitions", default=None)
    ap.add_argument("--metrics", action="store_true")
    ap.add_argument("--solo", action="append", default=[], metavar="GATE")
    ap.add_argument("--solo-passes", type=int, default=5)
    args = ap.parse_args()

    gates = sorted(json.load(open(args.gates_from))["queries"].keys())
    arms = []
    for spec in args.arm:
        name, _, classes = spec.partition("=")
        if not os.path.isdir(classes):
            sys.exit(f"bench_ab: classes dir not found: {classes}")
        arms.append((name, classes))

    failed = False
    artifact = {
        "note": "Same-session binary A/B: identical gate subset + env "
                "through each arm's compiled classes, run back-to-back "
                "(sweeps first, arm order as listed; then solo bands per "
                "gate per arm). Ratios divide arm bests; compare bands on "
                "the solos, not bests.",
        "generated": args.label, "sf_dir": args.sf_dir,
        "passes": args.passes, "gates": gates,
        "fixture": fixture_stamp.stamp(args.sf_dir), "arms": {}}
    ok, msg = fixture_stamp.check_pin(
        args.sf_dir, artifact["fixture"]["fingerprint"], who="bench_ab")
    print(f"[bench_ab] {msg}", flush=True)
    if not ok:
        sys.exit(1)

    for name, classes in arms:
        print(f"[bench_ab] SWEEP arm={name} classes={classes} "
              f"({len(gates)} gates x{args.passes} passes)...", flush=True)
        rc, full = run_bench(classes, args.sf_dir, gates, args.passes,
                             args.metrics, args.shuffle_partitions)
        got = sorted(full.get("queries", {}).keys())
        if got != gates:
            print(f"[bench_ab] FAIL {name}: executed gates != subset "
                  f"(missing {sorted(set(gates)-set(got))}, extra "
                  f"{sorted(set(got)-set(gates))})", flush=True)
            failed = True
        if rc != 0 or full.get("failed", 1) != 0:
            print(f"[bench_ab] FAIL {name}: rc={rc} failed={full.get('failed')}",
                  flush=True)
            failed = True
        artifact["arms"][name] = {
            "classes": classes, "total": full.get("value"),
            "shuffle_partitions": full.get("shuffle_partitions"),
            "queries": full.get("queries", {}), "solo": {}}
        total = full.get("value")
        total_s = f"{total:.1f}s" if isinstance(total, (int, float)) else "n/a"
        print(f"[bench_ab] arm={name} total={total_s} "
              f"failed={full.get('failed')}", flush=True)

    for gate in args.solo:
        for name, classes in arms:
            print(f"[bench_ab] SOLO {gate} arm={name} x{args.solo_passes}...",
                  flush=True)
            rc, full = run_bench(classes, args.sf_dir, [gate],
                                 args.solo_passes, args.metrics,
                                 args.shuffle_partitions)
            q = full.get("queries", {}).get(gate)
            if rc != 0 or q is None or q["rows"] < 0:
                print(f"[bench_ab] FAIL solo {gate} arm={name}: rc={rc}",
                      flush=True)
                failed = True
                continue
            artifact["arms"][name]["solo"][gate] = {
                "times": q["times"], "best": q["best"], "rows": q["rows"]}
            print(f"[bench_ab] solo {gate} arm={name}: times={q['times']}",
                  flush=True)

    totals_ok = all(isinstance(artifact["arms"][n]["total"], (int, float))
                    and artifact["arms"][n]["total"] > 0
                    for n, _ in arms)
    if len(arms) == 2 and totals_ok:
        a, b = arms[0][0], arms[1][0]
        qa = artifact["arms"][a]["queries"]
        qb = artifact["arms"][b]["queries"]
        ratios = {g: round(qb[g]["best"] / qa[g]["best"], 3)
                  for g in gates if g in qa and g in qb
                  and qa[g]["best"] < 1e8 and qb[g]["best"] < 1e8}
        artifact["ratio"] = {
            "direction": f"{b}_over_{a}", "per_query": ratios,
            "geomean": round(geomean(ratios.values()), 4),
            "total_ratio": round(artifact["arms"][b]["total"]
                                 / artifact["arms"][a]["total"], 4)}
        print(f"[bench_ab] geomean {b}/{a} = {artifact['ratio']['geomean']} "
              f"(total ratio {artifact['ratio']['total_ratio']})", flush=True)

    json.dump(artifact, open(args.out, "w"), indent=1)
    print(f"[bench_ab] wrote {args.out}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
