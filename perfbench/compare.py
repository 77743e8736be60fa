#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--trace 1]

Each directory holds results as `perfbench/run.py` keeps them
(`<workload>/seed<n>-trace<t>-<time>.json`, e.g. a copy of
`.bench_results/`). For every workload x metric it prints each side's
median and quartiles and a verdict:

- better: the change wins at least 9 of 10 pairs (runs paired by seed,
  ties count for neither side) and the medians differ by more than the
  base's own spread (the distance between its quartiles);
- worse: the change's median is worse than the base's by more than the
  metric's bound in BENCHMARK.json (per-layer metrics have no bound:
  worse means the mirror image of better);
- unresolved: anything else. Where the base's spread is wider than the
  bound, a metric stays unresolved unless every change run beats every
  base run.
"""
import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d, trace):
    """{workload: {metric: {seed: value}}} (the latest result per seed)."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*", f"seed*-trace{trace}-*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        h = r["host"]
        for k, v in r["metrics"].items():
            out.setdefault(h["workload"], {}).setdefault(k, {})[h["seed"]] = v
    return out


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound):
    """base/change: {seed: value}."""
    a, b = list(base.values()), list(change.values())
    sign = 1 if better == "lower" else -1
    q1a, ma, q3a = quart(a)
    _, mb, _ = quart(b)
    seeds = sorted(set(base) & set(change))
    pairs = [(base[s], change[s]) for s in seeds] or list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) > 0)
    spread = q3a - q1a
    if wins >= 0.9 * len(pairs) and abs(mb - ma) > spread and sign * (ma - mb) > 0:
        return "better"
    rel = sign * (mb - ma) / abs(ma) if ma else 0.0
    if bound is None:
        worse = losses >= 0.9 * len(pairs) and abs(mb - ma) > spread and rel > 0
        return "worse" if worse else "unresolved"
    if ma and spread / abs(ma) > bound:
        all_better = all(sign * (x - y) > 0 for x in a for y in b)
        return "better" if all_better else "unresolved"
    return "worse" if rel > bound else "unresolved"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    info = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    A, B = load(a.base, a.trace), load(a.change, a.trace)
    print(f"{'workload':12} {'metric':28} {'base q1/med/q3':>30} {'change q1/med/q3':>30}  verdict")
    for w in sorted(set(A) & set(B)):
        for k in sorted(set(A[w]) & set(B[w])):
            m = info.get(k, {"better": "lower"})
            qa, qb = quart(list(A[w][k].values())), quart(list(B[w][k].values()))
            v = verdict(A[w][k], B[w][k], m["better"], m.get("bound"))
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:12} {k:28} {fa:>30} {fb:>30}  {v} (n={len(A[w][k])}/{len(B[w][k])})")


if __name__ == "__main__":
    main()
