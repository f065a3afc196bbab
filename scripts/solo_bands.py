#!/usr/bin/env python3
"""Push-button solo banding (round-15, verdict item 4).

Runs each named gate ALONE in a fresh Bench JVM (SPARK_GRAFT_QUERY_FILTER
pins the gate, SPARK_GRAFT_BENCH_PASSES passes inside that JVM so the
first pass absorbs JIT/page warm-up) and writes/merges a
BENCH_SOLO_BANDS-style artifact. Use it on every in-sweep up-mover
>= 1.3x so band attribution (code vs sweep-level box state) is
mechanical instead of a hand-run judgment call — the round-14 bands were
hand-run; this makes the protocol step reproducible.

Usage:
  solo_bands.py --sf-dir /tmp/sf1 --out history/BENCH_SOLO_BANDS_r15.json \
      [--passes 5] [--note "..."] [--label "round 15"] \
      [--ref GATE=LO,HI,KIND]... GATE[=SF_DIR]...

Gates default to --sf-dir; a per-gate override is GATE=/tmp/sf10.
--ref attaches the prior round's reference band for the reader.
If --out exists, new gate entries MERGE into it (existing gates are
overwritten only when re-run). Exit 0 iff every gate ran 0-failed.
"""
import argparse, json, os, subprocess, sys, tempfile
import fixture_stamp

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ap = argparse.ArgumentParser()
ap.add_argument("--sf-dir", required=True)
ap.add_argument("--out", required=True)
ap.add_argument("--passes", type=int, default=5)
ap.add_argument("--note", default="Solo bands: fresh JVM per gate, one "
                "gate per run, N passes inside the JVM (first pass absorbs "
                "warm-up). Compare bands, not bests.")
ap.add_argument("--label", required=True,
                help="provenance label, e.g. 'round 15' (required so the "
                     "artifact can never carry stale provenance)")
ap.add_argument("--ref", action="append", default=[],
                metavar="GATE=LO,HI,KIND")
ap.add_argument("gates", nargs="+", metavar="GATE[=SF_DIR]")
args = ap.parse_args()

refs = {}
for r in args.ref:
    gate, rest = r.split("=", 1)
    lo, hi, kind = rest.split(",", 2)
    refs[gate] = {"band": [float(lo), float(hi)], "kind": kind}

artifact = {"note": args.note, "generated": args.label, "gates": {}}
if os.path.exists(args.out):
    artifact = json.load(open(args.out))
    # merged artifacts must always have a gates map, whatever schema the
    # old file had; provenance is PER ENTRY below (ADVICE round 16: a
    # top-level label silently relabels previously recorded gates), the
    # top-level "generated" only records the latest writer
    artifact.setdefault("gates", {})
    artifact["note"] = args.note
    artifact["generated"] = args.label

failed = []
dir_fps = {}
for spec in args.gates:
    gate, _, sf_dir = spec.partition("=")
    sf_dir = sf_dir or args.sf_dir
    # a band against a regenerated fixture would compare different bytes
    # (round-16 pin protocol: refuse, like scale_curve.py)
    if sf_dir not in dir_fps:
        fp = fixture_stamp.stamp(sf_dir)["fingerprint"]
        ok, msg = fixture_stamp.check_pin(sf_dir, fp, who="solo_bands")
        print(f"[solo_bands] {msg}", flush=True)
        if not ok:
            sys.exit(1)
        dir_fps[sf_dir] = fp
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        bench_out = tf.name
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_QUERY_FILTER=gate,
               SPARK_GRAFT_BENCH_PASSES=str(args.passes),
               SPARK_GRAFT_BENCH_OUT=bench_out)
    print(f"[solo_bands] {gate} @ {sf_dir} x{args.passes} passes "
          "(fresh JVM)...", flush=True)
    rc = subprocess.run([os.path.join(REPO, "scripts", "run_main.sh"),
                         "graft.Bench"], env=env, cwd=REPO,
                        stdout=subprocess.DEVNULL).returncode
    try:
        full = json.load(open(bench_out))
    except Exception as e:
        print(f"[solo_bands] FAIL {gate}: no bench output ({e})", flush=True)
        failed.append(gate)
        continue
    finally:
        os.unlink(bench_out)
    qs = full.get("queries", {})
    # the filter is a substring match: a prefix gate would drag extra
    # gates into the JVM and the run would no longer be solo — refuse
    if list(qs.keys()) != [gate]:
        print(f"[solo_bands] FAIL {gate}: filter matched {sorted(qs)} — "
              "not a solo run (gate name is a prefix of others?)", flush=True)
        failed.append(gate)
        continue
    q = qs[gate]
    if rc != 0 or q["rows"] < 0:
        print(f"[solo_bands] FAIL {gate}: bench rc={rc} rows={q['rows']}",
              flush=True)
        failed.append(gate)
        continue
    # per-entry provenance: after a merge into an existing --out, each
    # band still names the label AND fixture bytes it was measured against
    entry = {"sf_dir": sf_dir, "label": args.label,
             "fixture_fingerprint": dir_fps[sf_dir],
             "shuffle_partitions": full.get("shuffle_partitions"),
             "times": q["times"], "best": q["best"], "rows": q["rows"]}
    if gate in refs:
        entry["reference_band"] = refs[gate]["band"]
        entry["reference_kind"] = refs[gate]["kind"]
    artifact["gates"][gate] = entry
    print(f"[solo_bands] {gate}: times={q['times']} best={q['best']}",
          flush=True)

json.dump(artifact, open(args.out, "w"), indent=1)
print(f"[solo_bands] wrote {args.out} ({len(artifact['gates'])} gates, "
      f"{len(failed)} failed)")
sys.exit(1 if failed else 0)
