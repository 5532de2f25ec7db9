#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against local[nproc] at sf0.1.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds graft and the harness from source
(perfbench/build.py), runs graft.perfbench.Harness in one JVM, checks
every measured query's output against its DuckDB oracle with
tools/compare.py (rows > 0 for queries without one), and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones; the line before it is the run's record (set-up split, samples,
host noise, failing queries). See perfbench/NOTES.md.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

# Leave no bytecode caches in the checkout (perfbench/, tools/).
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tpch", "lifecycle", "llm_pipeline")
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
MB = 1024.0 * 1024.0


def cpu_times():
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice.
    return fields[7], sum(fields[:8])


def sf_dir(root):
    """The sf0.1 data directory: PERFBENCH_SF_DIR, else the one TESTDATA.md
    lists for sf 0.1."""
    if "PERFBENCH_SF_DIR" in os.environ:
        return os.environ["PERFBENCH_SF_DIR"]
    path = os.path.join(root, "TESTDATA.md")
    if not os.path.isfile(path):
        raise SystemExit(f"perfbench: {path} not found and PERFBENCH_SF_DIR not set")
    with open(path) as f:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m:
        raise SystemExit("perfbench: TESTDATA.md lists no sf 0.1 directory")
    return m.group(1).rstrip("/")


def load_compare(root):
    path = os.path.join(root, "tools", "compare.py")
    if not os.path.isfile(path):
        raise SystemExit(f"perfbench: {path} not found")
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_harness(classes, jars, data, out, args):
    cores = len(os.sched_getaffinity(0))
    jvm = ["java", "-Xmx4g", "-XX:+UseG1GC"]
    jvm += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    jvm += [f"-Dspark.local.dir={out}/spark-local", f"-Djava.io.tmpdir={out}/tmp",
            f"-Dspark.sql.warehouse.dir={out}/warehouse", f"-Dderby.system.home={out}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes] + jars),
            "graft.perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", data, "--out", out]
    os.makedirs(os.path.join(out, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    launch_ms = time.time() * 1000
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(jvm, cwd=out, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as log:
            sys.stderr.write(log.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f), launch_ms, cores


def check_outputs(compare, data, results):
    """Per measured query: None if its output is right, else the reason.
    Oracle queries go through tools/compare.py's normalization and type
    gate; rows-only queries must have rows."""
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compare.main(data, results)
    verdict = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if word == "PASS":
            verdict[name] = None
        elif word == "FAIL":
            verdict[name] = rest[len(name) + 2:][:300]
    for name in sorted(os.listdir(results)):
        path = os.path.join(results, name)
        if name in oracles or not os.path.isdir(path):
            continue
        rows = compare.duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
        verdict[name] = None if rows > 0 else "no rows"
    return verdict


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(record, launch_ms):
    walls = [p["wall_s"] for p in record["passes"]]
    qs = [s["wall_s"] for s in record["samples"]]
    return {
        "pass_s": (statistics.median(walls), "s"),
        "query_p50_s": (statistics.median(qs), "s"),
        "query_p90_s": (quantile(qs, 0.90), "s"),
        "setup_s": ((record["first_query_ms"] - launch_ms) / 1000.0, "s"),
    }


SUMMED = [  # (metric, sample key, scale, unit)
    ("operators.construct_s", "construct_s", 1, "s"),
    ("operators.execute_s", "execute_s", 1, "s"),
    ("plans.plan_s", "plan_s", 1, "s"),
    ("plans.qe_count", "qe_count", 1, "count"),
    ("spark.jobs", "jobs", 1, "count"),
    ("spark.stages", "stages", 1, "count"),
    ("spark.tasks", "tasks", 1, "count"),
    ("spark.tasks_failed", "tasks_failed", 1, "count"),
    ("spark.job_busy_s", "job_busy_s", 1, "s"),
    ("spark.driver_gap_s", "driver_gap_s", 1, "s"),
    ("spark.task_cpu_s", "task_cpu_s", 1, "s"),
    ("spark.task_run_s", "task_run_s", 1, "s"),
    ("spark.shuffle_write_mb", "shuffle_write_bytes", 1 / MB, "MB"),
    ("spark.shuffle_read_mb", "shuffle_read_bytes", 1 / MB, "MB"),
    ("spark.spill_mb", "spill_bytes", 1 / MB, "MB"),
    ("spark.input_mb", "input_bytes", 1 / MB, "MB"),
    ("spark.output_mb", "output_bytes", 1 / MB, "MB"),
    ("spark.output_records", "output_records", 1, "count"),
    ("jvm.gc_s", "gc_s", 1, "s"),
]


def per_layer(record, cores):
    """Per pass: each layer summed over the pass's queries; reported as the
    median over the traced passes."""
    traced = [p for p in record["passes"] if p["traced"]]
    bare = [p for p in record["passes"] if not p["traced"]]
    by_pass = {p["pass"]: [] for p in traced}
    for s in record["samples"]:
        if s["traced"]:
            by_pass[s["pass"]].append(s)

    def med(f):
        return statistics.median(f(p, by_pass[p["pass"]]) for p in traced)

    m = {name: (med(lambda p, ss, k=key, c=scale: sum(s[k] for s in ss) * c), unit)
         for name, key, scale, unit in SUMMED}
    m["spark.core_util"] = (med(lambda p, ss: sum(s["task_run_s"] for s in ss) /
                                max(sum(s["job_busy_s"] for s in ss) * cores, 1e-9)), "ratio")
    m["jvm.heap_peak_mb"] = (med(lambda p, ss: max(s["heap_peak_mb"] for s in ss)), "MB")
    m["sources.register_s"] = (med(lambda p, ss: p["register_s"]), "s")
    m["sources.register_jobs"] = (med(lambda p, ss: p["register_jobs"]), "count")
    setup = record["setup"]
    for k in ("session_s", "warmup_s", "fixture_s", "index_build_s"):
        m["setup." + k] = (setup[k], "s")
    m["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced) /
                           statistics.median(p["wall_s"] for p in bare), "ratio")
    return m


def sum_errors(record):
    """Per traced sample, how far construct+execute and job_busy+driver_gap
    each miss the query's wall (seconds)."""
    worst = 0.0
    for s in record["samples"]:
        worst = max(worst, abs(s["construct_s"] + s["execute_s"] - s["wall_s"]))
        if s["traced"]:
            worst = max(worst, abs(s["job_busy_s"] + s["driver_gap_s"] - s["wall_s"]))
    return worst


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    root = os.getcwd()

    load_start = os.getloadavg()[0]
    steal0, total0 = cpu_times()
    classes, jars = build.build(root)
    compare = load_compare(root)
    data = sf_dir(root)
    if not os.path.isdir(data):
        raise SystemExit(f"perfbench: data directory {data} not found")
    out = os.path.join(root, ".bench_build", "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    record, launch_ms, cores = run_harness(classes, jars, data, out, args)
    verdict = check_outputs(compare, data, os.path.join(out, "results"))
    for name, err in record["output_errors"].items():
        verdict[name] = verdict.get(name) or err[:300]
    for name in {s["query"] for s in record["samples"]} - set(verdict):
        verdict[name] = "output not checked"
    wrong = sorted(n for n, v in verdict.items() if v is not None)
    samples = record["samples"]
    failed = sum(1 for s in samples if s["error"] is not None or s["query"] in wrong)
    steal1, total1 = cpu_times()
    sum_err = sum_errors(record)

    host = {"load1_start": load_start, "load1_end": os.getloadavg()[0],
            "steal_frac": (steal1 - steal0) / max(total1 - total0, 1)}
    if args.trace:
        metrics = per_layer(record, cores)
        metrics.update({"host." + k: (v, "ratio" if k == "steal_frac" else "load")
                        for k, v in host.items()})
    else:
        metrics = end_to_end(record, launch_ms)
    summary = {
        "run_id": record["run_id"], "workload": args.workload, "seed": args.seed,
        "traced": bool(args.trace), "cores": cores, "sf_dir": data,
        "samples": len(samples), "passes": [round(p["wall_s"], 4) for p in record["passes"]],
        "fail_frac": failed / max(len(samples), 1), "failing_queries": {n: verdict[n] for n in wrong},
        "sample_errors": sorted({s["query"] for s in samples if s["error"] is not None}),
        "sum_check_max_error_s": sum_err, "setup": record["setup"], "host": host,
    }
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({"record": summary}))
    for name in wrong:
        print(f"perfbench: {name} failed: {verdict[name]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not wrong and sum_err < 1e-6,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
