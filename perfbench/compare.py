#!/usr/bin/env python3
"""Compares two sets of benchmark runs: a parent (A) and a change (B).

    python3 perfbench/compare.py A.jsonl B.jsonl [--json]

Each file holds one run per line, as `run.py` appends them to
`.bench_build/results.jsonl` (keys `workload`, `trace`, `metrics`). Runs of
A and B pair up in file order per workload, so alternate A and B runs when
making them. For each workload and end-to-end metric (untraced runs) it
prints each side's median and quartiles, the share of pairs B won, and a
verdict by this rule: with at least 10 pairs, B is a gain when it wins at
least 9 of 10 pairs and the medians differ by more than A's interquartile
distance in B's favour; a regression under the same rule in A's favour;
otherwise unresolved. It also flags a B median worse than A's by more than
the metric's bound in BENCHMARK.json. From traced runs it prints the median
self time of each layer on both sides and its change.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

MIN_PAIRS = 10
WIN_SHARE = 0.9


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, lower_is_better):
    """Gain, regression or unresolved for paired samples a (parent) and b."""
    pairs = list(zip(a, b))
    better = (lambda x, y: y < x) if lower_is_better else (lambda x, y: y > x)
    wins = sum(1 for x, y in pairs if better(x, y))
    losses = sum(1 for x, y in pairs if better(y, x))
    qa, qb = quartiles(a), quartiles(b)
    iqr_a = qa[2] - qa[0]
    apart = abs(qb[1] - qa[1]) > iqr_a
    if len(pairs) >= MIN_PAIRS and apart:
        if wins >= WIN_SHARE * len(pairs) and better(qa[1], qb[1]):
            return "gain", wins, len(pairs)
        if losses >= WIN_SHARE * len(pairs) and better(qb[1], qa[1]):
            return "regression", wins, len(pairs)
    return "unresolved", wins, len(pairs)


def bounds():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    return {m["name"]: (m["bound"], m["better"] == "lower") for m in spec["end_to_end"]}


def compare(runs_a, runs_b):
    out = []
    limits = bounds()
    for w in sorted({r["workload"] for r in runs_a} & {r["workload"] for r in runs_b}):
        for trace in (0, 1):
            a = [r for r in runs_a if r["workload"] == w and r["trace"] == trace]
            b = [r for r in runs_b if r["workload"] == w and r["trace"] == trace]
            if not a or not b:
                continue
            names = metrics.END_TO_END if trace == 0 else \
                [n for n in metrics.PER_LAYER if n.startswith("self.")]
            for name in names:
                xa = [r["metrics"][name]["value"] for r in a]
                xb = [r["metrics"][name]["value"] for r in b]
                qa, qb = quartiles(xa), quartiles(xb)
                row = {"workload": w, "metric": name, "unit": a[0]["metrics"][name]["unit"],
                       "a": {"q1": qa[0], "median": qa[1], "q3": qa[2], "n": len(xa)},
                       "b": {"q1": qb[0], "median": qb[1], "q3": qb[2], "n": len(xb)}}
                if trace == 0:
                    bound, lower = limits[name]
                    v, wins, pairs = verdict(xa, xb, lower)
                    worse = (qb[1] - qa[1]) if lower else (qa[1] - qb[1])
                    row.update(verdict=v, b_wins=wins, pairs=pairs,
                               beyond_bound=qa[1] > 0 and worse > bound * qa[1])
                else:
                    row.update(delta=qb[1] - qa[1])
                out.append(row)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()
    rows = compare(load(args.a), load(args.b))
    if args.json:
        print(json.dumps(rows, indent=1))
        return
    for r in rows:
        a, b = r["a"], r["b"]
        head = (f"{r['workload']:<10} {r['metric']:<20} A {a['median']:.4g} [{a['q1']:.4g}, "
                f"{a['q3']:.4g}] n={a['n']}  B {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] "
                f"n={b['n']} {r['unit']}")
        if "verdict" in r:
            flag = "  beyond bound" if r["beyond_bound"] else ""
            print(f"{head}  B won {r['b_wins']}/{r['pairs']}: {r['verdict']}{flag}")
        else:
            print(f"{head}  self-time change {r['delta']:+.4g}")


if __name__ == "__main__":
    main()
