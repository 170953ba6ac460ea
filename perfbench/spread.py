#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py WORKLOAD SEED [SEED ...]

Run from the repository root. Runs the benchmark once per seed (trace
off) and prints, per metric, the median and the distance between the
first and third quartile as a share of the median: the figure each
metric's `bound` in BENCHMARK.json is compared against.
"""
import json
import statistics
import subprocess
import sys


def iqr_share(values):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives
    them; 0 when the median is 0."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main():
    workload, seeds = sys.argv[1], sys.argv[2:]
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    runs = []
    for seed in seeds:
        out = subprocess.run(
            [*bench["command"], "--workload", workload, "--seed", seed,
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        runs.append(json.loads(out.strip().splitlines()[-1]))
        print(f"seed {seed}: " + json.dumps(runs[-1]), flush=True)
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        share = iqr_share(vals)
        print(f"{m['name']:14s} median {statistics.median(vals):12.4f} "
              f"iqr/median {share:.4f} bound {m['bound']} "
              f"{'ok' if share < m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
