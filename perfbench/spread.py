#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs one workload once per
seed and reports, per metric, the median and the distance between the
first and third quartile as a share of the median, next to the metric's
bound in BENCHMARK.json.

Usage (from the root of a checkout):
    python3 perfbench/spread.py <workload> <first seed> <runs> [seconds]
"""
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    workload, seed0, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = sys.argv[4] if len(sys.argv) > 4 else str(bench["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    for seed in range(seed0, seed0 + runs):
        t0 = time.time()
        res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                              "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                             stdout=subprocess.PIPE, text=True)
        if res.returncode != 0:
            raise SystemExit(f"seed {seed}: exit {res.returncode}")
        lines = res.stdout.strip().splitlines()
        record, line = json.loads(lines[-2])["record"], json.loads(lines[-1])
        for name in bounds:
            values[name].append(line["metrics"][name]["value"])
        print(f"seed {seed}: {time.time() - t0:.1f} s, correct={line['correct']}, "
              f"steal={record['host']['steal_frac']:.3f}, " +
              ", ".join(f"{k}={v['value']:.4f}" for k, v in line["metrics"].items()), flush=True)
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{workload} {name}: median {med:.4f}, spread {(q3 - q1) / med:.3f}, bound {bounds[name]}")


if __name__ == "__main__":
    main()
