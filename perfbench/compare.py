#!/usr/bin/env python3
"""A/B compare of two sets of benchmark results.

    python3 perfbench/compare.py <A> <B>

A and B are directories (or single files) of result files as `run.py`
writes them to perfbench/work/results/. Runs of the same workload and seed
on both sides form a pair. For every workload and end-to-end metric the tool
prints each side's median and quartiles, B's share of pair wins (ties count
for neither) and a verdict:

  gain         B wins at least 9 of 10 pairs and the medians differ by more
               than A's own quartile spread
  regression   B's median is worse than A's by more than the metric's bound
  unresolved   a side's quartile spread, as a share of its median, exceeds
               the bound, and B does not read better on every run
  same         otherwise
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 0 and not r.get("full") and "result" in r:
            runs.append(r)
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(metric, a, b, pairs):
    lower = metric["better"] == "lower"
    bound = metric.get("bound", 0.25)
    qa, qb = quartiles(a), quartiles(b)
    spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
    spread_b = (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    wins = sum(1 for x, y in pairs if better(y, x))
    win_share = wins / len(pairs) if pairs else float("nan")
    worse_by = ((qb[1] - qa[1]) if lower else (qa[1] - qb[1])) / qa[1] if qa[1] else 0.0
    if pairs and win_share >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
        v = "gain"
    elif worse_by > bound:
        v = "regression"
    elif max(spread_a, spread_b) > bound and not all(better(y, x) for x in a for y in b):
        v = "unresolved"
    else:
        v = "same"
    return qa, qb, win_share, max(spread_a, spread_b), v


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    side_a, side_b = load(argv[1]), load(argv[2])
    print(f"{'workload':<20} {'metric':<22} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
          f"{'B wins':>7} {'spread':>7}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        ra = {r["seed"]: r["result"]["metrics"] for r in side_a if r["workload"] == w}
        rb = {r["seed"]: r["result"]["metrics"] for r in side_b if r["workload"] == w}
        if not ra or not rb:
            continue
        for m in bench["end_to_end"]:
            name = m["name"]
            a = [x[name]["value"] for x in ra.values() if name in x]
            b = [x[name]["value"] for x in rb.values() if name in x]
            if not a or not b:
                continue
            pairs = [(ra[s][name]["value"], rb[s][name]["value"]) for s in ra if s in rb]
            qa, qb, share, spread, v = verdict(m, a, b, pairs)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:<20} {name:<22} {fmt(qa):>30} {fmt(qb):>30} "
                  f"{share:>7.0%} {spread:>7.1%}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
