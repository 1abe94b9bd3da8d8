#!/usr/bin/env python3
"""Compare two (sets of) Bench JSON artifacts: median per query per side,
calibration medians, and per-query ratios. Usage:
  bench_cmp.py A.json[,A2.json...] B.json[,B2.json...]

An artifact is a Bench JSON object, or one wrapped as {"parsed": {...}}
(BENCH_r17.json's shape). A side without calibration prints n/a.
"""
import json, statistics, sys

def load(paths):
    qs, cals = {}, []
    for p in paths.split(','):
        d = json.load(open(p))
        if isinstance(d, dict) and isinstance(d.get('parsed'), dict):
            d = d['parsed']
        if not isinstance(d, dict) or not isinstance(d.get('queries'), dict):
            sys.exit(f"bench_cmp: {p} has no 'queries' object")
        cals += d.get('calibration') or []
        for k, v in d['queries'].items():
            if v >= 0:
                qs.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in qs.items()}, \
        (statistics.median(cals) if cals else None)

def fmt(c):
    return 'n/a' if c is None else f"{c:.3f}"

if len(sys.argv) != 3:
    sys.exit(__doc__.strip())
a, ca = load(sys.argv[1])
b, cb = load(sys.argv[2])
ratio = f"{cb/ca:.2f}" if ca and cb is not None else 'n/a'
print(f"calibration medians: A={fmt(ca)} B={fmt(cb)} (B/A={ratio})")
rows = [(b[k]/a[k], k, a[k], b[k]) for k in a if k in b and a[k] > 0]
if not rows:
    sys.exit("bench_cmp: the two sides share no queries with a positive "
             "A time; nothing to compare")
rows.sort()
ta, tb = sum(a[k] for _, k, _, _ in rows), sum(b[k] for _, k, _, _ in rows)
print(f"shared-total: A={ta:.2f}s B={tb:.2f}s  B/A={tb/ta:.3f}")
g = statistics.geometric_mean([max(r, 1e-9) for r, *_ in rows])
print(f"geomean B/A: {g:.3f}")
for r, k, va, vb in rows:
    print(f"{r:5.2f}  {k:35s} A={va:7.3f} B={vb:7.3f}")
