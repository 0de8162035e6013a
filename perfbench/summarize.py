"""Summarize run records in perfbench/out/ per workload and metric.

    python3 perfbench/summarize.py [seed ...]

For each workload and metric: the sample count, median, quartiles, the
spread (interquartile distance over the median, as the bound in
BENCHMARK.json is read) and the highest percentile with at least ten
samples beyond it. Only the given seeds are used when any are named.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")


def supported_percentile(n: int) -> str:
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}"
    return "-"


def main() -> None:
    seeds = {int(s) for s in sys.argv[1:]}
    rows: dict = {}
    for path in sorted(glob.glob(os.path.join(OUT, "*.json"))):
        rec = json.load(open(path))
        env = rec["env"]
        if seeds and env["seed"] not in seeds:
            continue
        key = (env["workload"], env["trace"])
        for name, value in rec["metrics"].items():
            rows.setdefault(key, {}).setdefault(name, []).append(value)
    for (workload, trace), metrics in sorted(rows.items()):
        print(f"\n{workload} (trace {trace})")
        print(f"| metric | n | median | q1 | q3 | spread | tail |")
        print("|---|---|---|---|---|---|---|")
        for name, vals in metrics.items():
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (vals[0],) * 3)
            spread = (q3 - q1) / med if med else 0.0
            print(f"| {name} | {len(vals)} | {med:.4g} | {q1:.4g} | "
                  f"{q3:.4g} | {spread:.3f} | "
                  f"{supported_percentile(len(vals))} |")


if __name__ == "__main__":
    main()
