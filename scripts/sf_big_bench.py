#!/usr/bin/env python3
"""Fifth measured decade for the core growers (round-17, verdict item 4).

Runs the biggest fixture this box's disk allows — /tmp/sf300, sf0.1
replicated x3000 (1.8B-row lineitem + 450M-row orders; generated by
make_sf_big.py, pinned like every fixture) — through the core-grower
gates, solo (one JVM per gate, so one gate's shuffle files never
inflate another's disk peak), with task metrics, then value-checks the
outputs via sf100_check.py's methods (SF100_GATES subset) against the
committed oracle SQL run directly in DuckDB over the same tables.

DISK CEILING, documented loudly (the verdict's abandon criterion): the
box has ~64 GB free; the 128 GiB page cache therefore can NEVER be
exceeded by any fixture that fits, so a truly memory-honest
(cache-cold) curve is unreachable here — sf300 is the largest honest
step. q_etl_scan is EXCLUDED from this subset: it rewrites its input
into a date-partitioned copy, and at sf300 the events table + rewrite
would not fit alongside the fixture. Exclusions are recorded in the
artifact.

Usage:
  sf_big_bench.py --round 17 [--sf-dir /tmp/sf300] [--copies 3000]
                  [--partitions 512] [--passes 2] [--skip-verify]

Writes history/BENCH_FULL_r{N}_sfBIG.json (merged solo runs +
calibration + fixture stamp) and history/SFBIG_CHECK_r{N}.json (value
checks), then deletes the Verify output dir (it is tens of GB).
"""
import argparse, json, os, shutil, subprocess, sys, tempfile
import fixture_stamp
import end_of_round

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RM = os.path.join(REPO, "scripts", "run_main.sh")

GATES = ["q_agg_basic", "q_zorder_value", "q_inner_join", "q_topk_per_group"]
EXCLUDED = {"q_etl_scan": "rewrites its input into a date-partitioned copy; "
                          "events x3000 + the rewrite exceed the disk budget"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default="/tmp/sf300")
    ap.add_argument("--copies", type=int, default=3000)
    ap.add_argument("--partitions", default="512")
    ap.add_argument("--passes", default="2")
    ap.add_argument("--skip-verify", action="store_true")
    args = ap.parse_args()
    label = f"round {args.round}"

    fp = fixture_stamp.stamp(args.sf_dir)["fingerprint"]
    ok, msg = fixture_stamp.check_pin(args.sf_dir, fp, who="sf_big_bench")
    print(f"[sfbig] {msg}", flush=True)
    if not ok:
        sys.exit(1)

    calib = end_of_round.calibrate("bench_sfBIG")

    queries, failed = {}, 0
    for gate in GATES:
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            bench_out = tf.name
        env = dict(os.environ,
                   SPARK_GRAFT_SF_DIR=args.sf_dir,
                   SPARK_GRAFT_QUERY_FILTER=gate,
                   SPARK_GRAFT_BENCH_PASSES=args.passes,
                   SPARK_GRAFT_SHUFFLE_PARTITIONS=args.partitions,
                   SPARK_GRAFT_TASK_METRICS="1",
                   SPARK_GRAFT_BENCH_OUT=bench_out)
        print(f"[sfbig] SOLO {gate} @ {args.sf_dir} x{args.passes} passes, "
              f"{args.partitions} partitions...", flush=True)
        rc = subprocess.run([RM, "graft.Bench"], env=env, cwd=REPO,
                            stdout=subprocess.DEVNULL).returncode
        try:
            full = json.load(open(bench_out))
        except Exception as e:
            print(f"[sfbig] FAIL {gate}: no bench output ({e})", flush=True)
            failed += 1
            continue
        finally:
            os.unlink(bench_out)
        q = full.get("queries", {}).get(gate)
        if rc != 0 or q is None or q["rows"] < 0:
            print(f"[sfbig] FAIL {gate}: rc={rc}", flush=True)
            failed += 1
            continue
        queries[gate] = q
        print(f"[sfbig] {gate}: times={q['times']} rows={q['rows']} "
              f"spill={q.get('task_metrics', {}).get('disk_spill')}",
              flush=True)

    art_name = f"BENCH_FULL_r{args.round:02d}_sfBIG.json"
    artifact = {
        "metric": "total",
        "value": sum(q["best"] for q in queries.values()),
        "unit": "sec", "sf": args.sf_dir,
        "note": f"Fifth measured decade ({label}): sf0.1 x{args.copies} "
                "(lineitem+orders only), core-grower gates run SOLO (one "
                "JVM per gate) with task metrics. Excluded gates and the "
                "disk ceiling are recorded below; value checks in "
                f"SFBIG_CHECK_r{args.round}.json.",
        "generated": label,
        "passes": int(args.passes),
        "failed": failed,
        "solo_per_gate": True,
        "shuffle_partitions": args.partitions,
        "excluded": EXCLUDED,
        "disk_ceiling": "box free disk ~64GB < 128GiB page cache: no "
                        "fixture that fits can exceed the cache, so a "
                        "cache-cold curve is unreachable on this box",
        "fixture": fixture_stamp.stamp(args.sf_dir),
        "calibration": calib,
        "queries": queries,
    }
    end_of_round.atomic_dump(artifact, end_of_round.art(art_name), indent=1)
    print(f"[sfbig] wrote {art_name}", flush=True)
    if failed:
        sys.exit(1)

    if args.skip_verify:
        print("[sfbig] --skip-verify: no value checks", flush=True)
        return

    # Verify + value-check ONE GATE AT A TIME, deleting each gate's
    # output before the next starts: at sf300 a single gate's shuffle
    # files + parquet output reach ~35 GB (q_zorder_value writes 1.8B
    # rows and its global sort shuffles the same volume), and running
    # all four in one JVM would stack four gates' shuffle residue plus
    # all outputs — past this box's free disk. Solo-per-gate bounds the
    # peak at max(single gate), the same isolation the bench arm uses.
    check_name = f"SFBIG_CHECK_r{args.round}.json"
    merged = {"detail": {}, "fail": 0, "total": 0}
    for gate in GATES:
        out_dir = f"/tmp/v_sfbig_r{args.round}_{gate}"
        shutil.rmtree(out_dir, ignore_errors=True)
        env = dict(os.environ,
                   SPARK_GRAFT_VERIFY_NO_COALESCE="1",
                   SPARK_GRAFT_SHUFFLE_PARTITIONS=args.partitions,
                   SPARK_GRAFT_QUERY_FILTER=gate)
        print(f"[sfbig] SOLO Verify {gate} -> {out_dir} ...", flush=True)
        rc = subprocess.run([RM, "graft.Verify", args.sf_dir, out_dir],
                            env=env, cwd=REPO,
                            stdout=subprocess.DEVNULL).returncode
        if rc != 0:
            merged["detail"][gate] = {"status": "FAIL",
                                      "err": f"Verify rc={rc}"}
            merged["fail"] += 1
            merged["total"] += 1
            shutil.rmtree(out_dir, ignore_errors=True)
            continue
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            gate_json = tf.name
        env = dict(os.environ, SF100_ROUND_LABEL=label, SF100_GATES=gate)
        rc = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "sf100_check.py"),
             args.sf_dir, out_dir, gate_json],
            env=env, cwd=REPO).returncode
        try:
            part = json.load(open(gate_json))
            merged["detail"].update(part.get("detail", {}))
            merged["fail"] += part.get("fail", 1)
            merged["total"] += part.get("total", 0)
        except Exception as e:
            merged["detail"][gate] = {"status": "FAIL",
                                      "err": f"check output unreadable: {e}"}
            merged["fail"] += 1
            merged["total"] += 1
        finally:
            os.unlink(gate_json)
        # a gate's Verify output is tens of GB at sf300 — reclaim NOW,
        # before the next gate's JVM needs the room
        shutil.rmtree(out_dir, ignore_errors=True)
        print(f"[sfbig] {gate}: check rc={rc}; removed {out_dir}", flush=True)
    summary = {
        "note": f"Fifth-decade value sweep ({label}) at {args.sf_dir}: each "
                "gate Verify'd SOLO (one JVM, own output dir, deleted "
                "before the next gate) and value-checked by "
                "sf100_check.py's methods — the per-gate isolation bounds "
                "peak disk at one gate's shuffle+output.",
        "generated": label,
        "fixture": fixture_stamp.stamp(args.sf_dir),
        "total": merged["total"],
        "fail": merged["fail"],
        "by_method": {m: sum(1 for r in merged["detail"].values()
                             if r.get("method") == m and "status" not in r)
                      for m in ("exact", "relative", "fingerprint",
                                "rank-bound", "replay")},
        "detail": merged["detail"],
    }
    end_of_round.atomic_dump(summary, end_of_round.art(check_name), indent=1)
    print(f"[sfbig] wrote {check_name}: total {merged['total']} "
          f"fail {merged['fail']}", flush=True)
    sys.exit(1 if merged["fail"] else 0)


if __name__ == "__main__":
    main()
