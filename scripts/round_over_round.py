#!/usr/bin/env python3
"""Calibration-corrected round-over-round bench compare (round-17,
verdict item 1).

Rounds 14-16 each burned their headline effort re-attributing sweep
noise to box state AFTER the fact (solo bands, then a worktree binary
A/B). This makes the attribution mechanical and BEFORE-the-fact: every
BENCH_FULL artifact produced by end_of_round.py carries a `calibration`
stamp — the score of a FIXED workload run from a pinned jar
(scripts/calib/graft-calib.jar) immediately before the sweep. This
script divides two rounds' per-gate bests, and when both artifacts are
stamped it also reports the geomean divided by the measured box-speed
ratio — a slow night then shows up as a calibration delta, not as a
phantom code regression.

Usage:
  round_over_round.py history/BENCH_FULL_r17_sf10.json \
                      history/BENCH_FULL_r16_sf10.json [--out OUT.json] [--top 8]

Prints: shared-gate geomean cur/prev (raw), the calibration ratio
cur/prev, the corrected geomean (raw / calib ratio), and the biggest
movers. Refuses to compare artifacts whose fixture fingerprints differ
(different bytes are never comparable). Exits 0 always unless inputs
are unusable — this is a reporting tool, not a gate.
"""
import argparse, json, math, sys

FAIL_SENTINEL = 1e8


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("current")
    ap.add_argument("previous")
    ap.add_argument("--out", default=None)
    ap.add_argument("--top", type=int, default=8)
    args = ap.parse_args()
    cur = json.load(open(args.current))
    prv = json.load(open(args.previous))

    # different fixture bytes are never comparable (round-16 pin protocol)
    fc = cur.get("fixture", {}).get("fingerprint")
    fp = prv.get("fixture", {}).get("fingerprint")
    if fc and fp and fc != fp:
        sys.exit(f"round_over_round: fixture fingerprints differ "
                 f"({fc} vs {fp}) — these artifacts measured different "
                 "bytes and their ratio is meaningless")

    qc, qp = cur.get("queries", {}), prv.get("queries", {})
    shared = sorted(set(qc) & set(qp))
    ratios = {}
    for g in shared:
        b_c, b_p = qc[g]["best"], qp[g]["best"]
        if b_c < FAIL_SENTINEL and 0 < b_p < FAIL_SENTINEL:
            ratios[g] = b_c / b_p
    if not ratios:
        sys.exit("round_over_round: no shared non-failed gates")
    raw = geomean(ratios.values())

    cal_c = cur.get("calibration", {}).get("score_sec")
    cal_p = prv.get("calibration", {}).get("score_sec")
    jar_c = cur.get("calibration", {}).get("jar_md5")
    jar_p = prv.get("calibration", {}).get("jar_md5")
    calib_ratio = corrected = None
    note = ""
    if cal_c and cal_p:
        if jar_c and jar_p and jar_c != jar_p:
            note = (f"calibration jars differ ({jar_c} vs {jar_p}) — scores "
                    "not comparable, correction skipped")
        else:
            calib_ratio = cal_c / cal_p
            corrected = raw / calib_ratio
            if abs(calib_ratio - 1.0) > 0.10:
                note = (f"box speed moved {calib_ratio:.3f}x between the two "
                        "sweeps (measured by the pinned calibration jar) — "
                        "prefer the corrected geomean; a raw-only elevation "
                        "of this size is box state, not code")
    else:
        note = ("calibration stamp missing on "
                + ("both artifacts" if not cal_c and not cal_p else
                   "the previous artifact" if not cal_p else
                   "the current artifact")
                + " — raw geomean only (stamps exist from round 17 onward)")

    movers = sorted(ratios.items(), key=lambda kv: -kv[1])[:args.top]
    print(f"[r/r] shared gates: {len(ratios)}  "
          f"raw geomean cur/prev = {raw:.4f}")
    if calib_ratio is not None:
        print(f"[r/r] calibration cur={cal_c}s prev={cal_p}s "
              f"ratio={calib_ratio:.4f}  ->  CORRECTED geomean = {corrected:.4f}")
    if note:
        print(f"[r/r] NOTE: {note}")
    print(f"[r/r] top movers (cur/prev): " +
          ", ".join(f"{g}={r:.2f}" for g, r in movers))

    if args.out:
        json.dump({
            "note": "Per-gate best ratios current/previous; corrected "
                    "geomean divides the raw geomean by the pinned-jar "
                    "calibration score ratio (box-speed denominator).",
            "current": args.current, "previous": args.previous,
            "fixture_fingerprint": fc or fp,
            "shared_gates": len(ratios),
            "raw_geomean": round(raw, 4),
            "calib_score_cur": cal_c, "calib_score_prev": cal_p,
            "calib_ratio": round(calib_ratio, 4) if calib_ratio else None,
            "corrected_geomean": round(corrected, 4) if corrected else None,
            "calib_note": note,
            "per_gate_ratio": {g: round(r, 3) for g, r in sorted(ratios.items())},
        }, open(args.out, "w"), indent=1)
        print(f"[r/r] wrote {args.out}")


if __name__ == "__main__":
    main()
