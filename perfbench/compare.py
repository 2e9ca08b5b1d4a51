#!/usr/bin/env python3
"""Compare two sets of benchmark runs (or summarize one).

    python3 perfbench/compare.py A.jsonl [B.jsonl] [--benchmark BENCHMARK.json]

Each file holds one run per line: the JSON object run.py prints last. For
every metric the script prints each side's median and quartiles, the spread
(interquartile distance as a share of the median) against the metric's
bound, and with two sets the pairs B won: run i of A against run i of B,
ties counting for neither side. The benchmark file gives each metric's
direction and bound.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load_runs(path):
    runs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                runs.append(json.loads(line))
    return runs


def metric_specs(bench_path):
    with open(bench_path) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def summarize(values):
    """(q1, median, q3) and the spread; one run has no spread."""
    if len(values) < 2:
        return (values[0],) * 3, None
    return stats.quartiles(values), stats.spread(values)


def compare(a_runs, b_runs, specs):
    """One row per metric: each side's (q1, median, q3) and spread, the
    bound, and with two sets the pairs B won and how much worse B's median
    is than A's, as a share of A's."""
    names = sorted({k for r in a_runs for k in r["metrics"]})
    rows = []
    for name in names:
        spec = specs.get(name, {"unit": "?", "better": "lower"})
        a = [r["metrics"][name]["value"] for r in a_runs]
        qa, a_spread = summarize(a)
        row = {"metric": name, "unit": spec["unit"], "bound": spec.get("bound"),
               "a": qa, "a_spread": a_spread}
        if b_runs:
            b = [r["metrics"][name]["value"] for r in b_runs]
            qb, b_spread = summarize(b)
            sign = 1 if spec["better"] == "higher" else -1
            wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
            row.update(b=qb, b_spread=b_spread, wins=wins, pairs=min(len(a), len(b)),
                       worse=(sign * (qa[1] - qb[1]) / qa[1]) if qa[1] else None)
        rows.append(row)
    return rows


def fmt(x):
    return f"{x:.4g}" if isinstance(x, (int, float)) else str(x)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    specs = metric_specs(args.benchmark)
    a_runs = load_runs(args.a)
    b_runs = load_runs(args.b) if args.b else None
    for side, runs in (("A", a_runs), ("B", b_runs or [])):
        bad = [i for i, r in enumerate(runs) if not r["correct"] or r["failed"]]
        if bad:
            print(f"{side}: runs {bad} were incorrect or had failed operations")
    for row in compare(a_runs, b_runs, specs):
        a = row["a"]
        line = (f"{row['metric']:44s} {row['unit']:6s} A med {fmt(a[1])} [{fmt(a[0])}, {fmt(a[2])}] "
                f"spread {fmt(row['a_spread'])}")
        if row["bound"] is not None:
            line += f" (bound {row['bound']})"
        if b_runs:
            b = row["b"]
            line += (f" | B med {fmt(b[1])} [{fmt(b[0])}, {fmt(b[2])}] spread {fmt(row['b_spread'])}"
                     f" | B won {row['wins']}/{row['pairs']}, B worse by {fmt(row['worse'])}")
        print(line)


if __name__ == "__main__":
    main()
