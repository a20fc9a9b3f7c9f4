#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

Usage: python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are files (or directories of files) holding the full
records `perfbench/run.py` prints (`"schema": 1` JSON lines; each run
also appends its record to .bench_out/records.jsonl). Other lines are
ignored.

For every workload x end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the pair wins (runs paired by seed, else
by order), and a verdict:
  improved     the change wins at least 9 in 10 pairs and the medians
               differ by more than the parent's interquartile range
  no worse     the change's median is not worse than the parent's by
               more than the metric's bound
  regressed    worse by more than the bound
  unresolved   the parent's own spread is wider than the bound, and not
               every change run beats every parent run
From traced runs it prints each per-layer metric's medians and the
change as a ratio to its stated parent base.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def records(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        for line in open(f, errors="replace"):
            line = line.strip()
            if line.startswith("{") and '"schema"' in line:
                try:
                    r = json.loads(line)
                except ValueError:
                    continue
                if r.get("schema") == 1 and r.get("correct"):
                    out.append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(a, b):
    """Pair runs of the two sides by seed, else by order."""
    bs = {r["seed"]: r for r in b}
    if all(r["seed"] in bs for r in a):
        return [(r, bs[r["seed"]]) for r in a]
    return list(zip(a, b))


def verdict(metric, pa, pb, wins, n):
    higher = metric["better"] == "higher"
    bound = metric["bound"]
    worse = (pa[1] - pb[1]) / pa[1] if higher else (pb[1] - pa[1]) / pa[1]
    spread = (pa[2] - pa[0]) / pa[1] if pa[1] else 0.0
    if n and wins >= 0.9 * n and abs(pb[1] - pa[1]) > pa[2] - pa[0] and worse < 0:
        return "improved"
    if spread > bound:
        a_all, b_all = pa[3], pb[3]
        all_better = (min(b_all) > max(a_all)) if higher else (max(b_all) < min(a_all))
        return "no worse (every run better)" if all_better else "unresolved"
    return "no worse" if worse <= bound else "regressed"


def main(parent, change):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    A, B = records(parent), records(change)
    print(f"parent: {len(A)} correct runs from {parent}; change: {len(B)} from {change}")
    for w in [x["name"] for x in spec["workloads"]]:
        a = [r for r in A if r["workload"] == w and r["trace"] == 0]
        b = [r for r in B if r["workload"] == w and r["trace"] == 0]
        if a and b:
            print(f"\n{w}: {len(a)} parent runs, {len(b)} change runs")
            print(f"  {'metric':<16} {'parent q1/med/q3':>32} {'change q1/med/q3':>32}  wins  verdict")
            for m in spec["end_to_end"]:
                ra = [r for r in a if m["name"] in r["metrics"]]
                rb = [r for r in b if m["name"] in r["metrics"]]
                if not ra or not rb:
                    continue
                va = [r["metrics"][m["name"]]["value"] for r in ra]
                vb = [r["metrics"][m["name"]]["value"] for r in rb]
                pa, pb = quartiles(va) + (va,), quartiles(vb) + (vb,)
                pr = pairs(ra, rb)
                sign = 1 if m["better"] == "higher" else -1
                wins = sum(1 for x, y in pr
                           if sign * (y["metrics"][m["name"]]["value"]
                                      - x["metrics"][m["name"]]["value"]) > 0)
                fmt = lambda q: "/".join(f"{v:.4g}" for v in q[:3])
                print(f"  {m['name']:<16} {fmt(pa):>32} {fmt(pb):>32}  "
                      f"{wins}/{len(pr)}  {verdict(m, pa, pb, wins, len(pr))} "
                      f"(bound {m['bound']}, {m['unit']})")
        ta = [r for r in A if r["workload"] == w and r["trace"] == 1]
        tb = [r for r in B if r["workload"] == w and r["trace"] == 1]
        if ta and tb:
            print(f"  per-layer, traced: {len(ta)} parent runs, {len(tb)} change runs")
            for m in spec["per_layer"]:
                va = [r["metrics"][m["name"]]["value"] for r in ta if m["name"] in r["metrics"]]
                vb = [r["metrics"][m["name"]]["value"] for r in tb if m["name"] in r["metrics"]]
                if not va or not vb:
                    continue
                ma, mb = statistics.median(va), statistics.median(vb)
                ratio = f"{mb / ma:.3f}x of base {ma:.4g}" if ma else f"base 0, change {mb:.4g}"
                print(f"    {m['name']:<28} {ma:>12.4g} -> {mb:<12.4g} {m['unit']:<6} {ratio}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
