#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent (A) and a change (B).

    python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds the standard output of any number of run.py runs (any
workloads, traced or not), concatenated. Runs are paired per workload
by seed where both sides ran the same seeds, otherwise in file order.

For each workload and end-to-end metric it prints each side's median
and quartiles, the share of pairs B won, and a verdict:

  improved    B wins at least 9/10 of the pairs, and the medians differ
              by more than A's own interquartile range;
  no worse    B's median is not worse than A's by more than the bound;
  unresolved  A's spread is wider than the bound and B does not beat
              every run of A;
  worse       B's median is worse than A's by more than the bound.

Then the per-op medians of untraced runs and the per-layer medians of
traced runs, with their deltas.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "..", "BENCHMARK.json")))


def load(path):
    """workload -> trace -> list of (seed, metrics, detail)."""
    runs = defaultdict(lambda: defaultdict(list))
    detail = None
    for line in open(path):
        line = line.strip()
        if not line.startswith("{"):
            continue
        d = json.loads(line)
        if "detail" in d:
            detail = d["detail"]
        elif "metrics" in d and detail is not None:
            runs[detail["workload"]][detail["trace"]].append(
                (detail["seed"], {k: v["value"] for k, v in d["metrics"].items()}, detail))
            detail = None
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    seeds_a, seeds_b = [r[0] for r in a], [r[0] for r in b]
    if sorted(seeds_a) == sorted(seeds_b) and len(set(seeds_a)) == len(seeds_a):
        by = {r[0]: r for r in b}
        return [(r, by[r[0]]) for r in a]
    return list(zip(a, b))


def verdict(xa, xb, won, n, bound, lower):
    q1a, ma, q3a = quartiles(xa)
    _, mb, _ = quartiles(xb)
    worse_by = (mb - ma) / ma if lower else (ma - mb) / ma
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    if n and won >= 0.9 * n and abs(mb - ma) > q3a - q1a and better(mb, ma):
        return "improved"
    if (q3a - q1a) / ma > bound and not all(better(y, x) for x in xa for y in xb):
        return "unresolved"
    return "no worse" if worse_by <= bound else "worse"


def main(pa, pb):
    A, B = load(pa), load(pb)
    for wl in sorted(set(A) & set(B)):
        a, b = A[wl][0], B[wl][0]
        if a and b:
            print(f"== {wl}: {len(a)} vs {len(b)} untraced runs")
            print(f"{'metric':<18}{'A q1/med/q3':>30}{'B q1/med/q3':>30}  won   verdict")
            for m in SPEC["end_to_end"]:
                k, lower = m["name"], m["better"] == "lower"
                pr = [(x[1][k], y[1][k]) for x, y in pairs(a, b)]
                won = sum((y < x) if lower else (y > x) for x, y in pr)
                xa, xb = [r[1][k] for r in a], [r[1][k] for r in b]
                qa, qb = quartiles(xa), quartiles(xb)
                print(f"{k:<18}{'/'.join(f'{v:.4g}' for v in qa):>30}"
                      f"{'/'.join(f'{v:.4g}' for v in qb):>30}  {won}/{len(pr)}  "
                      f"{verdict(xa, xb, won, len(pr), m['bound'], lower)}")
            ops = sorted(a[0][2]["op_median_ms"])
            print(f"per op, median ms:")
            for op in ops:
                ma = statistics.median(r[2]["op_median_ms"][op] for r in a if op in r[2]["op_median_ms"])
                mb = statistics.median(r[2]["op_median_ms"][op] for r in b if op in r[2]["op_median_ms"])
                print(f"  {wl}.{op:<22}{ma:>12.1f}{mb:>12.1f}{100 * (mb - ma) / ma:>+9.1f}%")
            fa = sum(len(r[2]["failures"]) for r in a)
            fb = sum(len(r[2]["failures"]) for r in b)
            print(f"failed ops: {fa} vs {fb}")
        ta, tb = A[wl][1], B[wl][1]
        if ta and tb:
            print(f"-- {wl}: per-layer medians, {len(ta)} vs {len(tb)} traced runs")
            for m in SPEC["per_layer"]:
                k = m["name"]
                ma = statistics.median(r[1][k] for r in ta)
                mb = statistics.median(r[1][k] for r in tb)
                pct = f"{100 * (mb - ma) / ma:+.1f}%" if ma else ""
                print(f"  {k:<40}{ma:>14.6g}{mb:>14.6g}{mb - ma:>+14.6g} {pct}")
        print()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
