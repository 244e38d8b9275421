#!/usr/bin/env python3
"""Capture the catalog output reference (perfbench/reference/catalog.json).

    python3 perfbench/capture_reference.py [RUNS]

Runs the catalog workload RUNS times (default 3), each with another seed and so
another query order, and records every measured query's row count and
order-independent content hash. A query whose hash differs between the
runs is not bit-stable; it is listed under "unstable" and only its row
count is checked. Run it on a commit whose query results are trusted.
"""

import json
import os
import sys

import run

runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
seen = {}
for seed in range(1, runs + 1):
    raw = run.harness("catalog", seed, 1, 0)
    if raw["failed"] or raw["values"].get("fatal"):
        run.fail(f"seed {seed}: {raw['errors']} {raw['values'].get('fatal', '')}")
    for k, v in raw["values"].items():
        if k.startswith("check."):
            seen.setdefault(k[len("check."):], []).append(v)

queries, unstable = {}, {}
for name, vals in sorted(seen.items()):
    queries[name] = vals[0]
    if len({v[0] for v in vals}) > 1:
        run.fail(f"{name}: row count differs between runs: {vals}")
    if len({v[1] for v in vals}) > 1:
        unstable[name] = f"content hash differed across {runs} runs with the same input"
ref = {"data": os.path.relpath(run.DATA, run.HERE), "runs": runs, "queries": queries, "unstable": unstable}
os.makedirs(os.path.dirname(run.REFERENCE), exist_ok=True)
with open(run.REFERENCE, "w") as fh:
    json.dump(ref, fh, indent=1, sort_keys=True)
    fh.write("\n")
print(f"{len(queries)} queries, {len(unstable)} unstable: {sorted(unstable)}")
