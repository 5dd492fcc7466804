#!/usr/bin/env python3
"""Compare the benchmark results of two commits.

    python3 perfbench/compare.py results/base results/head

Each directory holds the captured stdout of ``perfbench/run.py`` runs,
one file per run (any name), untraced and traced runs mixed. For every
workload and end-to-end metric it prints the medians and quartiles of
both sides, the pair-win fraction (the share of (base, head) run pairs
in which head is better; ties count for neither) and a verdict under
the metric's bound from BENCHMARK.json:

- better: head wins at least nine tenths of the pairs and its median
  is better by more than the distance between base's quartiles;
- worse: head's median is worse than base's by more than the bound;
- unresolved: otherwise, when either side spreads (quartile distance
  over median) wider than the bound;
- unchanged: otherwise.

Then, for the traced runs, the median of every per-layer metric on
both sides and its relative change.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict


def load(directory: str) -> dict[tuple[str, int], list[dict]]:
    """{(workload, trace): [metrics of each run]}."""
    out: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        settings = result = None
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if "settings" in obj:
                    settings = obj["settings"]
                elif "metrics" in obj:
                    result = obj
        if settings and result:
            metrics = {k: v["value"] for k, v in result["metrics"].items()}
            out[(settings["workload"], settings["trace"])].append(metrics)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pair_win(base: list[float], head: list[float], lower_better: bool) -> float:
    wins = sum(1 for a in base for b in head if a != b and (b < a) == lower_better)
    return wins / (len(base) * len(head))


def verdict(qa, qb, win: float, bound: float, lower_better: bool) -> str:
    """``qa``/``qb``: (q1, median, q3) of base and head."""
    gain = (qa[1] - qb[1]) if lower_better else (qb[1] - qa[1])
    if win >= 0.9 and gain > qa[2] - qa[0]:
        return "better"
    if -gain / qa[1] > bound:
        return "worse"
    if max((q[2] - q[0]) / q[1] for q in (qa, qb)) > bound:
        return "unresolved"
    return "unchanged"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--bench", default="BENCHMARK.json",
                    help="the benchmark definition holding each metric's bound")
    args = ap.parse_args()
    with open(args.bench) as f:
        bench = json.load(f)
    base, head = load(args.base), load(args.head)
    print(f"{'workload':<17} {'metric':<14} {'base median [q1, q3]':<32} "
          f"{'head median [q1, q3]':<32} {'change':>8} {'win':>5}  verdict")
    for w in bench["workloads"]:
        a_runs, b_runs = base.get((w["name"], 0), []), head.get((w["name"], 0), [])
        for m in bench["end_to_end"]:
            a = [r[m["name"]] for r in a_runs if m["name"] in r]
            b = [r[m["name"]] for r in b_runs if m["name"] in r]
            if not a or not b:
                print(f"{w['name']:<17} {m['name']:<14} missing runs")
                continue
            lower = m["better"] == "lower"
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / qa[1]
            win = pair_win(a, b, lower)
            cells = [f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]" for q in (qa, qb)]
            print(f"{w['name']:<17} {m['name']:<14} {cells[0]:<32} {cells[1]:<32} "
                  f"{change:>+8.1%} {win:>5.2f}  {verdict(qa, qb, win, m['bound'], lower)}")
    print()
    print(f"{'workload':<17} {'per-layer metric':<28} {'base':>12} {'head':>12} {'change':>8}")
    for w in bench["workloads"]:
        a_runs, b_runs = base.get((w["name"], 1), []), head.get((w["name"], 1), [])
        if not a_runs or not b_runs:
            continue
        for m in bench["per_layer"]:
            a = [r[m["name"]] for r in a_runs if m["name"] in r]
            b = [r[m["name"]] for r in b_runs if m["name"] in r]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            if ma == mb == 0:
                continue
            change = f"{(mb - ma) / ma:+.1%}" if ma else "new"
            print(f"{w['name']:<17} {m['name']:<28} {ma:>12.4g} {mb:>12.4g} {change:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
