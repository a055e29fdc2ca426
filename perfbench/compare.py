#!/usr/bin/env python3
"""Compares two sets of benchmark runs, A (base) and B (change).

    python3 perfbench/compare.py DIR_A DIR_B

Each DIR holds run artifacts as perfbench/sweep.py leaves them
(<workload>-s<seed>-t<trace>.json). For every workload and end-to-end metric
of BENCHMARK.json it prints both medians and quartiles, the fraction of
pairs B wins (runs paired in seed order, ties counting for neither) and a
verdict:

  regression   B's median is worse than A's by more than the metric's bound
  gain         B wins at least 9 of 10 pairs and the medians differ by more
               than A's own quartile spread
  unresolved   A's quartile spread is wider than the bound, and B neither
               wins every pair nor loses every pair
  no change    otherwise

Traced runs (t1) are compared per layer: medians of A and B and their ratio
for every per-layer metric.
"""
import glob
import json
import os
import statistics
import sys


def load(d, trace):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, f"*-t{trace}.json"))):
        a = json.load(open(f))
        runs.setdefault(a["workload"], []).append(a)
    for w in runs:
        runs[w].sort(key=lambda a: a["seed"])
    return runs


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, statistics.median(vs), q3


def verdict(a, b, better, bound):
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    sign = 1 if better == "lower" else -1
    worse = sign * (mb - ma) / ma
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    if worse > bound:
        v = "regression"
    elif win_frac >= 0.9 and abs(mb - ma) > (qa3 - qa1):
        v = "gain"
    elif (qa3 - qa1) / ma > bound and wins != len(pairs) and losses != len(pairs):
        v = "unresolved"
    else:
        v = "no change"
    return ma, mb, (qa1, qa3), quartiles(b), win_frac, v


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    bench = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")))
    da, db = sys.argv[1], sys.argv[2]
    a0, b0 = load(da, 0), load(db, 0)
    print(f"{'workload':14s} {'metric':18s} {'median A':>11s} {'median B':>11s} {'A q1..q3':>23s} "
          f"{'B q1..q3':>23s} {'B wins':>6s}  verdict")
    for w in sorted(set(a0) & set(b0)):
        for m in bench["end_to_end"]:
            k = m["name"]
            va = [r["end_to_end"][k] for r in a0[w]]
            vb = [r["end_to_end"][k] for r in b0[w]]
            ma, mb, qa, qb, wf, v = verdict(va, vb, m["better"], m["bound"])
            print(f"{w:14s} {k:18s} {ma:11.5g} {mb:11.5g} {qa[0]:11.5g}..{qa[1]:<11.5g}"
                  f"{qb[0]:11.5g}..{qb[2]:<11.5g} {wf:6.2f}  {v}")
    a1, b1 = load(da, 1), load(db, 1)
    for w in sorted(set(a1) & set(b1)):
        print(f"\nper-layer, {w} (traced runs: A n={len(a1[w])}, B n={len(b1[w])})")
        for k in sorted(a1[w][0]["layers"]):
            ma = statistics.median(r["layers"][k] for r in a1[w])
            mb = statistics.median(r["layers"][k] for r in b1[w] if k in r["layers"])
            ratio = f"{mb / ma:8.3f}" if ma else "       -"
            print(f"  {k:34s} {ma:14.6g} {mb:14.6g} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
