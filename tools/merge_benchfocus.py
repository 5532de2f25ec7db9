#!/usr/bin/env python3
"""Merge chunked `Probe reps` JSON lines into one BENCHFOCUS file.

Each chunk file holds the output of one
`sbt "Test/runMain graft.Probe reps q1,q2,…"` run with sbt's `[info] `
prefix stripped; its last line must be the JSON record. Each chunk
carries its own `controls` block (`Probe reps` measures the five pinned
controls even when they are not targets). The merged file keeps every
chunk's raw runs/medians, takes each control's MEDIAN-OF-CHUNKS
median (ambient noise varies across the ~25 min the chunks span, and the
median is the robust summary), and recomputes the ambient index from
those.

Usage: python3 tools/merge_benchfocus.py out.json chunk1.json chunk2.json ...
"""
import json
import math
import statistics
import sys


def main(out, chunks):
    queries, median = {}, {}
    control_samples = {}
    refs = {}
    sf = None
    for c in chunks:
        with open(c) as f:
            d = json.loads(f.read().strip().splitlines()[-1])
        sf = d["sf"]
        queries.update(d["queries"])
        median.update(d["median"])
        for q, v in d.get("controls", {}).items():
            if q in ("ambient_index", "ambient_ref"):
                continue
            control_samples.setdefault(q, []).append(v["median"])
            refs[q] = v.get("ref", v.get("ref_r14"))
    controls = {}
    logs = []
    for q, ms in control_samples.items():
        m = statistics.median(ms)
        controls[q] = {"median": round(m, 3), "ref": refs[q],
                       "chunk_medians": ms}
        logs.append(math.log(m / refs[q]))
    controls["ambient_index"] = round(math.exp(sum(logs) / len(logs)), 3)
    with open(out, "w") as f:
        json.dump({"sf": sf, "queries": queries, "median": median,
                   "controls": controls}, f)
    print(f"merged {len(median)} queries, ambient_index="
          f"{controls['ambient_index']}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2:]))
