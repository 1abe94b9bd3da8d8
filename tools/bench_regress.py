#!/usr/bin/env python3
"""Per-query bench regression gate.

Compares two full bench maps (graft.Bench JSON lines: min-of-two-passes
per query) and fails on real >THRESHOLDx per-query regressions:

    python3 tools/bench_regress.py BENCH_LOCAL_r11.json BENCH_FULL_LATEST.json

Trusted-min rule (the repo's round-over-round discipline): the shared
bench box shows 2-3x calibration spread under contention, so when
either run's calibration spread (max/min of the three probes) exceeds
1.5 the box was contended and regressions downgrade to WARN -- only
queries whose plans actually changed are worth chasing from a
contended sweep. Exit codes: 0 ok/warn-only, 1 real regressions on a
quiet box (or an input with no 'queries' object), 2 queries disappeared
from the map. An input may be a Bench JSON object or one wrapped as
{"parsed": {...}}.
"""
import json
import math
import sys

THRESHOLD = 2.0   # flag a query past this ratio
FLOOR_SEC = 0.05  # baselines below this are clamped UP to it (scheduler
                  # noise must not suppress a tiny->large regression:
                  # 0.04s -> 30s is 600x against the clamped floor and
                  # still fails, while 0.02s -> 0.09s jitter passes)
SPREAD_OK = 1.5   # calibration max/min above this = contended box


def load(path):
    """The Bench object, unwrapped from {"parsed": {...}} (BENCH_r17.json's
    shape); exits naming the file when there is no 'queries' object
    (BENCH_r01.json's "parsed" is null)."""
    with open(path) as f:
        doc = json.load(f)
    if isinstance(doc, dict) and isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    if not isinstance(doc, dict) or not isinstance(doc.get("queries"), dict):
        sys.exit(f"bench_regress: {path} has no 'queries' object")
    return doc


def spread(doc):
    """Spike-robust contention index of the probe timeline.

    The dense calibration array (~20-25 probes per sweep since r13's
    CalEvery=32) makes a raw max/min FAR more likely to trip on a single
    transient spike — and 'contended' downgrades every regression to
    WARN and exits 0, so one noisy probe out of twenty could silently
    neutralize the mandatory bench gate in check.py. Use the p90/p10
    ratio instead: a lone outlier lands outside both percentiles, while
    genuine sustained contention (many slow probes) still clears 1.5.
    With <5 probes the percentiles collapse toward max/min, which is the
    old (correct for sparse arrays) behavior.
    """
    cal = sorted(c for c in (doc.get("calibration") or []) if c > 0)
    if not cal:
        return 1.0
    # one convention for both percentile indices: floor for the low,
    # ceil for the high — symmetric, monotone in array length (the old
    # floor/banker's-round mix biased lo toward min on small arrays)
    lo = cal[math.floor(0.10 * (len(cal) - 1))]
    hi = cal[math.ceil(0.90 * (len(cal) - 1))]
    return hi / lo


def cal_median(doc):
    """Median of the sweep's constant-work probe timeline -- the box-speed
    index. The r13 drift pin (DRIFT_PIN_r13.md) showed a LOW-SPREAD probe
    array can still mean a uniformly slow box (r12-end: ~0.26s probes vs
    0.15-0.19s in every other round), inflating every query ~1.2x with no
    plan change. Ratios are therefore judged both raw and box-normalized.
    """
    cal = sorted(c for c in (doc.get("calibration") or []) if c > 0)
    return cal[len(cal) // 2] if cal else None


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    threshold = THRESHOLD
    for a in sys.argv[1:]:
        if a.startswith("--threshold="):
            threshold = float(a.split("=", 1)[1])
    if len(args) != 2:
        sys.exit(__doc__)
    old_doc, new_doc = load(args[0]), load(args[1])
    oq, nq = old_doc["queries"], new_doc["queries"]
    contended = spread(old_doc) > SPREAD_OK or spread(new_doc) > SPREAD_OK

    # Box-speed normalization: if the new sweep's probe median is f x the
    # old one's, every query is EXPECTED ~f x slower on identical plans.
    # A regression must clear the threshold RAW and NORMALIZED to FAIL;
    # raw-only overruns print as box-speed WARNs.
    co, cn = cal_median(old_doc), cal_median(new_doc)
    box = (cn / co) if (co and cn) else 1.0

    regressions, box_only = [], []
    for name in sorted(set(oq) & set(nq)):
        o, n = oq[name], nq[name]
        if o > 0 and n > 0 and n / max(o, FLOOR_SEC) > threshold:
            if n / (max(o, FLOOR_SEC) * max(box, 1.0)) > threshold:
                regressions.append((name, o, n, n / o))
            else:
                box_only.append((name, o, n, n / o))
    removed = sorted(set(oq) - set(nq))
    added = sorted(set(nq) - set(oq))

    tag = "WARN" if contended else "FAIL"
    for name, o, n, r in sorted(regressions, key=lambda t: -t[3]):
        print(f"{tag} {name}: {o:.2f}s -> {n:.2f}s ({r:.1f}x)")
    for name, o, n, r in sorted(box_only, key=lambda t: -t[3]):
        print(f"WARN {name}: {o:.2f}s -> {n:.2f}s ({r:.1f}x raw; within "
              f"threshold after /{box:.2f} box-speed normalization)")
    if added:
        print("new queries: " + ", ".join(added))
    if removed:
        print("REMOVED queries (coverage loss): " + ", ".join(removed))
    shared_o = sum(v for k, v in oq.items() if k in nq and v > 0)
    shared_n = sum(v for k, v in nq.items() if k in oq and v > 0)
    print(f"shared-query total: {shared_o:.1f}s -> {shared_n:.1f}s; "
          f"calibration spread old={spread(old_doc):.2f} "
          f"new={spread(new_doc):.2f}; box-speed ratio "
          f"(probe medians) {box:.2f}"
          + (" (contended box: regressions downgraded to WARN -- "
             "re-check queries whose plans changed)" if contended else ""))
    if removed:
        sys.exit(2)
    if regressions and not contended:
        sys.exit(1)


if __name__ == "__main__":
    main()
