#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py WORKLOAD [RUNS] [FIRST_SEED] [--trace 1]

For each metric: the median of the runs and the distance between the first
and third quartile (statistics.quantiles, n=4) as a share of the median --
the figure each end-to-end metric's bound in BENCHMARK.json is compared
with. Reads run_seconds from BENCHMARK.json; run from the checkout root.
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv):
    trace = "0"
    if "--trace" in argv:
        i = argv.index("--trace")
        trace = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    workload = argv[0]
    runs = int(argv[1]) if len(argv) > 1 else 5
    first = int(argv[2]) if len(argv) > 2 else 1
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in range(first, first + runs):
        out = subprocess.run(
            bench["command"] + ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", trace],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout
        res = json.loads(out.splitlines()[-1])
        assert res["correct"] and res["failed"] == 0, res
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        flag = "" if bound is None else f"  bound {bound}  {'ok' if spread < bound / 3 else 'WIDE'}"
        print(f"{workload:12} {k:32} median {med:12.5g}  spread {spread:7.3f}{flag}")


if __name__ == "__main__":
    main(sys.argv[1:])
