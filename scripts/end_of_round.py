#!/usr/bin/env python3
"""One-command end-of-round orchestrator (round-16, verdict item 5).

The end-of-round protocol was ~10 manual steps across ROUND_NOTES.md and
the memory file; the round-14 stale-provenance bug and the round-15
SF100_ROUND_LABEL fix were both manual-sequencing mistakes. This script
runs the whole ladder in order, enforcing the conventions mechanically:

  test          sbt -batch test (the full ScalaTest suite)
  verify_small  Verify + check_oracle at sf0.001 and sf0.01 (FAIL 0 gate)
  bench_sf01    260-gate best-of-3 at /root/testdata/sf0.1
  bench_sf1     260-gate best-of-3 at /tmp/sf1
  verify_sf1    Verify(NO_COALESCE) at /tmp/sf1 + check_oracle --skip
                <recursive tail> + sf1_check.py replays -> SF1_CHECK_r{N}
  bench_sf10    prior round's 42-gate subset at /tmp/sf10, metrics ON
  solo_bands    every sf10 up-mover >= 1.3x vs the prior artifact, solo
  verify_sf100  Verify(NO_COALESCE, 256 parts) of the 14-gate subset at
                /tmp/sf100 + sf100_check.py -> SF100_CHECK_r{N}
  bench_sf100   the same 14 gates, 256 partitions, metrics ON
  scale_curve   four-decade curve (refuses un-pinned fixtures)
  plan_audit    PlanAudit -> PLAN_AUDIT_r{N}.txt
  soak          Soak -> SOAK_r{N}.json

Conventions enforced: round label on every artifact (--round is
required and stamps SF100_ROUND_LABEL / solo_bands --label), the
run_main.sh stale-build guard in front of every JVM, fixture pins
verified before any bench (fixture_stamp.check_pin), and gate subsets
taken from the PRIOR round's artifacts — never retyped.

Usage:
  end_of_round.py --round 16 [--prev 15] [--phases bench_sf10,solo_bands]
                  [--resume] [--mover-threshold 1.3]

Writes history/EOR_MANIFEST_r{N}.json incrementally (every phase appends its
status + artifacts + wall seconds); --resume skips phases the manifest
already marks ok. Exit 0 iff every requested phase passed.
"""
import argparse, json, os, subprocess, sys, tempfile, time
import fixture_stamp


def atomic_dump(obj, path, **kw):
    """json.dump via a same-dir temp file + os.replace so a crash mid-dump
    never truncates the only copy of an artifact (ADVICE r17)."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".",
                               prefix=".tmp_", suffix=".json")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, **kw)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RM = os.path.join(REPO, "scripts", "run_main.sh")
# every per-round artifact (bench, check, curve, audit, soak and manifest
# files) is read and written here, never at the repo root
HISTORY = os.path.join(REPO, "history")


def art(name):
    """Path of the per-round artifact `name`."""
    return os.path.join(HISTORY, name)

SF1_SKIP = ("q_dedup_minhash_cc,q_dedup_cluster_sizes,q_dedup_elect,"
            "q_curation_pipeline,q_dedup_simhash_hamming,q_dedup_embed_cc,"
            "q_graph_cc,q_pack_greedy")

PHASES = ["test", "verify_small", "bench_sf01", "bench_sf1", "verify_sf1",
          "bench_sf10", "solo_bands", "verify_sf100", "bench_sf100",
          "scale_curve", "plan_audit", "soak"]


def sh(cmd, env=None, log=None, cwd=REPO):
    e = dict(os.environ)
    if env:
        e.update(env)
    print(f"[eor] $ {' '.join(cmd)}" +
          (f"  (env {env})" if env else ""), flush=True)
    if log:
        with open(log, "w") as lf:
            return subprocess.run(cmd, env=e, cwd=cwd, stdout=lf,
                                  stderr=subprocess.STDOUT).returncode
    return subprocess.run(cmd, env=e, cwd=cwd).returncode


def require_pin(sf_dir):
    ok, msg = fixture_stamp.check_pin(sf_dir, who="end_of_round")
    print(f"[eor] {msg}", flush=True)
    if not ok:
        sys.exit(f"end_of_round: {sf_dir} does not match its committed pin "
                 "— regenerating mid-protocol breaks round comparability. "
                 "Re-pin deliberately first if intended.")


CALIB_JAR = os.path.join(REPO, "scripts", "calib", "graft-calib.jar")
OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def calibrate(phase):
    """Box-state calibration (round-17, verdict item 1): run the PINNED
    calibration jar (fixed CPU+shuffle+scan mix, never rebuilt with the
    library) immediately before a bench sweep and return its stamp.
    Cross-round geomeans divide by score_sec (round_over_round.py), so a
    slow box-night is visible before attribution, not after a binary A/B.
    Returns None (with a loud warning) if the jar is missing."""
    if not os.path.exists(CALIB_JAR):
        print(f"[eor] WARNING: calibration jar missing at {CALIB_JAR} — "
              "bench artifact will carry no box-speed stamp", flush=True)
        return None
    import hashlib, tempfile
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        calib_out = tf.name
    opens = [f for p in OPENS_PKGS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xmx16g", "-cp", f"{CALIB_JAR}:/opt/spark/jars/*",
            "CalibWorkload", calib_out])
    print(f"[eor] calibrating box speed before {phase} (pinned jar)...",
          flush=True)
    rc = subprocess.run(cmd, stdout=subprocess.DEVNULL,
                        stderr=subprocess.DEVNULL).returncode
    try:
        calib = json.load(open(calib_out))
    except Exception as e:
        print(f"[eor] WARNING: calibration produced no output "
              f"(rc={rc}: {e}) — continuing unstamped", flush=True)
        return None
    finally:
        os.unlink(calib_out)
    calib["jar_md5"] = hashlib.md5(open(CALIB_JAR, "rb").read()).hexdigest()
    calib["measured_before"] = phase
    print(f"[eor] calibration score_sec={calib.get('score_sec')} "
          f"(passes {calib.get('passes')})", flush=True)
    return calib


class Runner:
    def __init__(self, args):
        self.args = args
        self.n, self.prev = args.round, args.prev
        self.label = f"round {self.n}"
        self.manifest_path = art(f"EOR_MANIFEST_r{self.n}.json")
        self.manifest = {"round": self.n, "prev": self.prev, "phases": {}}
        if args.resume and os.path.exists(self.manifest_path):
            self.manifest = json.load(open(self.manifest_path))
        self.scratch = f"/tmp/eor_r{self.n}"
        os.makedirs(self.scratch, exist_ok=True)

    def save(self):
        atomic_dump(self.manifest, self.manifest_path, indent=1)

    def record(self, phase, ok, **extra):
        self.manifest["phases"][phase] = {"ok": ok, **extra}
        self.save()
        print(f"[eor] phase {phase}: {'OK' if ok else 'FAIL'}", flush=True)
        return ok

    # ---------- phases ----------

    def test(self):
        log = f"{self.scratch}/sbt_test.log"
        rc = sh(["sbt", "-batch", "test"], log=log)
        tail = open(log).read()[-2000:]
        return self.record("test", rc == 0, log=log,
                           summary=tail.splitlines()[-6:])

    def _verify_and_oracle(self, sf_dir, out_dir, skip=None, env=None,
                           logname="verify"):
        log1 = f"{self.scratch}/{logname}_verify.log"
        rc = sh([RM, "graft.Verify", sf_dir, out_dir], env=env, log=log1)
        if rc != 0:
            return False, f"Verify rc={rc} (see {log1})"
        cmd = ["python3", "scripts/check_oracle.py", sf_dir, out_dir]
        if skip:
            cmd.append(f"--skip={skip}")
        log2 = f"{self.scratch}/{logname}_oracle.log"
        rc = sh(cmd, log=log2)
        tail = open(log2).read()
        return rc == 0 and "FAIL 0" in tail, tail.splitlines()[-1][:400]

    def verify_small(self):
        ok1, m1 = self._verify_and_oracle("/root/testdata/sf0.001",
                                          f"{self.scratch}/v0001",
                                          logname="sf0001")
        ok2, m2 = self._verify_and_oracle("/root/testdata/sf0.01",
                                          f"{self.scratch}/v001",
                                          logname="sf001")
        return self.record("verify_small", ok1 and ok2,
                           sf0_001=m1, sf0_01=m2)

    def _bench(self, phase, sf_dir, out_name, gates=None, metrics=False,
               shuffle_partitions=None):
        require_pin(sf_dir)
        # box-speed stamp measured immediately BEFORE the sweep, injected
        # into the artifact after it (the artifact then names both the
        # fixture bytes AND the box speed its numbers were measured at)
        calib = calibrate(phase)
        env = {"SPARK_GRAFT_SF_DIR": sf_dir,
               "SPARK_GRAFT_BENCH_OUT": art(out_name)}
        if gates:
            env["SPARK_GRAFT_QUERY_FILTER"] = ",".join(sorted(gates))
        if metrics:
            env["SPARK_GRAFT_TASK_METRICS"] = "1"
        if shuffle_partitions:
            env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(shuffle_partitions)
        log = f"{self.scratch}/{phase}.log"
        rc = sh([RM, "graft.Bench"], env=env, log=log)
        try:
            full = json.load(open(art(out_name)))
        except Exception as e:
            return self.record(phase, False, error=f"no artifact: {e}", log=log)
        if calib is not None:
            full["calibration"] = calib
            atomic_dump(full, art(out_name))
        ok = rc == 0 and full.get("failed", 1) == 0
        if gates and sorted(full.get("queries", {})) != sorted(gates):
            ok = False
        return self.record(phase, ok, artifact=out_name,
                           total=full.get("value"), failed=full.get("failed"),
                           calib_score=(calib or {}).get("score_sec"),
                           fixture=full.get("fixture", {}).get("fingerprint"))

    def bench_sf01(self):
        return self._bench("bench_sf01", "/root/testdata/sf0.1",
                           f"BENCH_FULL_r{self.n:02d}_sf01.json")

    def bench_sf1(self):
        return self._bench("bench_sf1", "/tmp/sf1",
                           f"BENCH_FULL_r{self.n:02d}_sf1.json")

    def _prior_gates(self, name):
        p = art(name)
        if not os.path.exists(p):
            sys.exit(f"end_of_round: prior artifact {name} not found — the "
                     "gate subset comes from it (never retyped)")
        d = json.load(open(p))
        return sorted(d["queries"].keys() if "queries" in d
                      else d["detail"].keys())

    def bench_sf10(self):
        gates = self._prior_gates(f"BENCH_FULL_r{self.prev:02d}_sf10.json")
        return self._bench("bench_sf10", "/tmp/sf10",
                           f"BENCH_FULL_r{self.n:02d}_sf10.json",
                           gates=gates, metrics=True)

    # Gates with PROVEN large in-JVM variance, band-compared instead of
    # solo-run (round-17, verdict item 5): q_fuzz_77 tripped the >=1.3x
    # wire in rounds 14-16 and was solo-refuted every time. ADVICE r17:
    # band against the committed distribution of BESTS (best-of-sweep is
    # what the mover wire compares), not all pass times — the all-passes
    # band (7.2-19.2) was wide enough to permanently swallow a real
    # regression whose best settled at 14-18s. Committed sweep bests:
    # r12 7.3, r13 6.1, r14 7.3, r15 8.7, r16 13.6 (solo best 8.4). A
    # mover whose best lands INSIDE the bests band is auto-refuted without
    # a solo cycle; OUTSIDE it (best > 14.1s), escalation still runs.
    BAND_ONLY = {"q_fuzz_77": (6.0, 14.1)}

    def solo_bands(self):
        cur = json.load(open(art(f"BENCH_FULL_r{self.n:02d}_sf10.json")))
        prv = json.load(open(art(f"BENCH_FULL_r{self.prev:02d}_sf10.json")))
        movers, band_refuted = [], []
        for g, q in cur["queries"].items():
            p = prv["queries"].get(g)
            if p and p["best"] > 0 and q["best"] / p["best"] >= \
                    self.args.mover_threshold:
                ratio = round(q["best"] / p["best"], 2)
                band = self.BAND_ONLY.get(g)
                if band and band[0] <= q["best"] <= band[1]:
                    band_refuted.append(
                        {"gate": g, "ratio": ratio, "best": q["best"],
                         "committed_band": list(band),
                         "note": "inside committed in-JVM variance band — "
                                 "auto-refuted, no solo run"})
                    print(f"[eor] mover {g} ({ratio}x) auto-refuted: best "
                          f"{q['best']:.2f}s inside committed band {band}",
                          flush=True)
                else:
                    movers.append((g, ratio))
        if not movers:
            return self.record("solo_bands", True, movers=[],
                               band_refuted=band_refuted,
                               note="no up-mover needing a solo run")
        out = f"BENCH_SOLO_BANDS_r{self.n}.json"
        refs = [f"--ref={g}={prv['queries'][g]['best']},"
                f"{max(prv['queries'][g]['times'])},prior-insweep"
                for g, _ in movers]
        rc = sh(["python3", "scripts/solo_bands.py", "--sf-dir", "/tmp/sf10",
                 "--out", art(out), "--label", self.label] + refs +
                [g for g, _ in movers],
                log=f"{self.scratch}/solo_bands.log")
        return self.record("solo_bands", rc == 0, artifact=out,
                           movers=movers, band_refuted=band_refuted)

    def verify_sf1(self):
        out_dir = f"{self.scratch}/v_sf1"
        ok, msg = self._verify_and_oracle(
            "/tmp/sf1", out_dir, skip=SF1_SKIP,
            env={"SPARK_GRAFT_VERIFY_NO_COALESCE": "1"}, logname="sf1")
        log = f"{self.scratch}/sf1_check.log"
        rc = sh(["python3", "scripts/sf1_check.py", "/tmp/sf1", out_dir],
                log=log)
        replay_ok = rc == 0
        n_skip = len(SF1_SKIP.split(","))
        check = {"note": f"Full sf1 value sweep on round-{self.n} final code "
                         "(check_oracle SQL compare + sf1_check.py recursive-"
                         "CTE replays), produced by scripts/end_of_round.py.",
                 "generated": self.label,
                 "fixture": fixture_stamp.stamp("/tmp/sf1"),
                 "oracle_compare": msg, "replayed_gates": SF1_SKIP.split(","),
                 "replay_pass": replay_ok,
                 "fail": 0 if (ok and replay_ok) else 1,
                 "replay_tail": open(log).read().splitlines()[-3:]}
        name = f"SF1_CHECK_r{self.n}.json"
        atomic_dump(check, art(name), indent=1)
        return self.record("verify_sf1", ok and replay_ok, artifact=name,
                           oracle=msg, replayed=n_skip)

    def verify_sf100(self):
        gates = self._prior_gates(f"SF100_CHECK_r{self.prev}.json")
        out_dir = f"{self.scratch}/v_sf100"
        log1 = f"{self.scratch}/sf100_verify.log"
        rc = sh([RM, "graft.Verify", "/tmp/sf100", out_dir],
                env={"SPARK_GRAFT_VERIFY_NO_COALESCE": "1",
                     "SPARK_GRAFT_SHUFFLE_PARTITIONS": "256",
                     "SPARK_GRAFT_QUERY_FILTER": ",".join(gates)}, log=log1)
        if rc != 0:
            return self.record("verify_sf100", False,
                               error=f"Verify rc={rc}", log=log1)
        name = f"SF100_CHECK_r{self.n}.json"
        log2 = f"{self.scratch}/sf100_check.log"
        rc = sh(["python3", "scripts/sf100_check.py", "/tmp/sf100", out_dir,
                 art(name)],
                env={"SF100_ROUND_LABEL": self.label}, log=log2)
        return self.record("verify_sf100", rc == 0, artifact=name,
                           tail=open(log2).read().splitlines()[-3:])

    def bench_sf100(self):
        gates = self._prior_gates(f"SF100_CHECK_r{self.prev}.json")
        return self._bench("bench_sf100", "/tmp/sf100",
                           f"BENCH_FULL_r{self.n:02d}_sf100.json",
                           gates=gates, metrics=True, shuffle_partitions=256)

    def scale_curve(self):
        name = f"SCALE_CURVE_r{self.n}.json"
        rc = sh(["python3", "scripts/scale_curve.py",
                 art(f"BENCH_FULL_r{self.n:02d}_sf01.json"),
                 art(f"BENCH_FULL_r{self.n:02d}_sf1.json"),
                 art(f"BENCH_FULL_r{self.n:02d}_sf10.json"),
                 art(name),
                 art(f"BENCH_FULL_r{self.n:02d}_sf100.json")],
                log=f"{self.scratch}/scale_curve.log")
        return self.record("scale_curve", rc == 0, artifact=name)

    def plan_audit(self):
        name = f"PLAN_AUDIT_r{self.n}.txt"
        log = f"{self.scratch}/plan_audit.log"
        rc = sh([RM, "graft.PlanAudit"], log=log)
        lines = [l for l in open(log) if l.startswith("[audit]")]
        open(art(name), "w").writelines(lines)
        errors = [l for l in lines if " ERROR " in l]
        return self.record("plan_audit", rc == 0 and not errors,
                           artifact=name, audited=len(lines),
                           errors=errors[:5])

    def soak(self):
        name = f"SOAK_r{self.n}.json"
        rc = sh([RM, "graft.Soak", "/root/testdata/sf0.001", art(name)],
                log=f"{self.scratch}/soak.log")
        ok = rc == 0
        try:
            ok = ok and json.load(open(art(name))).get("pass") is True
        except Exception:
            ok = False
        return self.record("soak", ok, artifact=name)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--prev", type=int, default=None)
    ap.add_argument("--phases", default=",".join(PHASES))
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--mover-threshold", type=float, default=1.3)
    args = ap.parse_args()
    if args.prev is None:
        args.prev = args.round - 1
    wanted = [p for p in args.phases.split(",") if p]
    unknown = [p for p in wanted if p not in PHASES]
    if unknown:
        sys.exit(f"unknown phases {unknown}; valid: {PHASES}")

    r = Runner(args)
    all_ok = True
    for phase in PHASES:
        if phase not in wanted:
            continue
        if args.resume and r.manifest["phases"].get(phase, {}).get("ok"):
            print(f"[eor] phase {phase}: already ok (resume), skipping",
                  flush=True)
            continue
        t0 = time.time()
        ok = getattr(r, phase)()
        r.manifest["phases"][phase]["wall_sec"] = round(time.time() - t0, 1)
        r.save()
        all_ok = all_ok and ok
        if not ok and phase in ("test", "verify_small"):
            print(f"[eor] gate phase {phase} failed — aborting the ladder "
                  "(benches on failing code are not evidence)", flush=True)
            break
    print(f"[eor] manifest: {r.manifest_path}")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
