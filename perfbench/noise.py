#!/usr/bin/env python3
"""Tabulate per-query times across query-suite runs, for the noise record.

    python3 perfbench/noise.py RUN.json [RUN.json ...]

Reads run records (.bench_build/runs/query-suite-seed<n>-trace<t>.json) and
prints a markdown table: for each query, the number of samples, the min,
median and max wall time, and the run seed and pass index at which the min
and the max were taken, plus max/min. A query whose min is low but whose
max is high was slowed by the host; a query whose min is itself high is
slow because of its code.
"""
import json
import statistics
import sys


def main(paths):
    samples = {}
    for path in paths:
        run = json.load(open(path))
        for name, stats in run["per_label"].items():
            for s in stats.get("samples", []):
                samples.setdefault(name, []).append((s["wall_s"], run["seed"], s["pass"]))
    print("| query | n | min s | median s | max s | min at (seed, pass) | max at (seed, pass) | max/min |")
    print("|---|---|---|---|---|---|---|---|")
    for name in sorted(samples, key=lambda n: -min(samples[n])[0]):
        xs = sorted(samples[name])
        lo, hi = xs[0], xs[-1]
        med = statistics.median(x[0] for x in xs)
        print(f"| {name} | {len(xs)} | {lo[0]:.3f} | {med:.3f} | {hi[0]:.3f} | "
              f"({lo[1]}, {lo[2]}) | ({hi[1]}, {hi[2]}) | {hi[0] / lo[0]:.2f} |")


if __name__ == "__main__":
    main(sys.argv[1:])
