#!/usr/bin/env python3
"""Per-query scale-up analysis: compare two bench maps taken at
different scale factors (e.g. sf0.1 and sf1 = 10x the data) and report
each query's time ratio against the data ratio.

A ratio well UNDER the data ratio means the query's cost is dominated
by a bounded stage (metadata-scale aggregates, broadcast probes, fixed
iteration counts) — the 100 TB-friendly shape. A ratio well OVER it
means superlinear work (pair blowup, skewed shuffle, driver
materialization) and names the next scale bug before production does.

Usage: python3 tools/scale_ratio.py BENCH_FULL_LATEST.json \
         BENCH_SF1_r15.json [data_ratio=10]

A map is a Bench JSON object, one wrapped as {"parsed": {...}}
(BENCH_r17.json's shape), or a bare {query: seconds} object.
"""
import json
import sys


def qmap(path):
    d = json.load(open(path))
    if isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    return d["queries"] if "queries" in d else d


def main(lo_path, hi_path, data_ratio):
    lo, hi = qmap(lo_path), qmap(hi_path)
    shared = sorted(set(lo) & set(hi))
    rows = []
    for q in shared:
        if lo[q] <= 0 or hi[q] <= 0:
            continue
        rows.append((hi[q] / lo[q], q, lo[q], hi[q]))
    if not rows:
        sys.exit("scale_ratio: the two maps share no queries with positive "
                 "times on both sides; nothing to compare")
    rows.sort(reverse=True)
    print(f"{len(rows)} shared queries; data ratio {data_ratio}x; "
          f"total {sum(r[2] for r in rows):.1f}s -> "
          f"{sum(r[3] for r in rows):.1f}s "
          f"({sum(r[3] for r in rows)/sum(r[2] for r in rows):.2f}x)")
    sup = [r for r in rows if r[0] > data_ratio]
    print(f"\nsuperlinear (time ratio > data ratio {data_ratio}x): "
          f"{len(sup)}")
    for ratio, q, a, b in sup:
        print(f"  {q}: {a:.2f}s -> {b:.2f}s ({ratio:.1f}x)")
    print("\ntop 15 by ratio:")
    for ratio, q, a, b in rows[:15]:
        print(f"  {q}: {a:.2f}s -> {b:.2f}s ({ratio:.1f}x)")
    # sub-data-ratio share: the fraction of queries whose cost grew
    # slower than the data — the bounded-stage population
    frac = sum(1 for r in rows if r[0] < data_ratio) / max(len(rows), 1)
    print(f"\nqueries growing slower than the data: {frac:.0%}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         float(sys.argv[3]) if len(sys.argv) > 3 else 10.0)
