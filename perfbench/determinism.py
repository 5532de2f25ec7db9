#!/usr/bin/env python3
"""Which per-query counters repeat exactly: runs one workload traced twice
with the same seed (so the same query order) and compares every counter
of every traced query sample between the two runs. A claim that rests on
a count may only use a counter listed here as repeating.

Usage (from the root of a checkout):
    python3 perfbench/determinism.py <workload> [seed] [seconds]
"""
import json
import os
import subprocess
import sys

COUNTERS = ["jobs", "stages", "tasks", "tasks_failed", "qe_count", "output_records",
            "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_bytes"]


def traced_run(workload, seed, seconds):
    subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", seed,
                    "--seconds", seconds, "--trace", "1"], check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(".bench_build", "runs", f"{workload}-s{seed}-t1", "record.json")
    with open(path) as f:
        samples = json.load(f)["samples"]
    return {(s["pass"], s["query"]): s for s in samples if s["traced"]}


def main():
    workload = sys.argv[1]
    seed = sys.argv[2] if len(sys.argv) > 2 else "1"
    if len(sys.argv) > 3:
        seconds = sys.argv[3]
    else:
        with open("BENCHMARK.json") as f:
            seconds = str(json.load(f)["run_seconds"])
    a, b = traced_run(workload, seed, seconds), traced_run(workload, seed, seconds)
    keys = sorted(set(a) & set(b))
    print(f"{workload}, seed {seed}: {len(keys)} traced query samples in both runs")
    for c in COUNTERS:
        diff = [f"{q}: {a[(p, q)][c]} vs {b[(p, q)][c]}" for p, q in keys if a[(p, q)][c] != b[(p, q)][c]]
        print(f"  {c:20s} " + ("repeats" if not diff else "varies (" + "; ".join(diff) + ")"))


if __name__ == "__main__":
    main()
