#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [WORKLOAD ...]

Runs the benchmark once per seed on each workload (default: every
workload of BENCHMARK.json) and prints, per metric, the median and the
distance between the first and third quartile as a share of the median --
the figure the benchmark's bounds are checked against. Results are also
written to .bench_build/perfbench/spread.json.
"""

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, relative_iqr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    summary = {}
    for w in workloads:
        values, walls = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True).stdout
            walls.append(time.monotonic() - t0)
            res = json.loads(out.strip().splitlines()[-1])
            if not res["correct"]:
                print(out, file=sys.stderr)
                sys.exit(f"{w} seed {seed}: incorrect result")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        summary[w] = {"walls_s": walls, "metrics": {}}
        print(f"{w}: {len(walls)} runs, wall median {median(walls):.1f} s, max {max(walls):.1f} s")
        for k, xs in values.items():
            spread = relative_iqr(xs) if len(xs) > 1 else 0.0
            summary[w]["metrics"][k] = {"median": median(xs), "rel_iqr": spread, "values": xs}
            flag = "" if k not in bounds or spread < bounds[k] / 3 else "  <-- above bound/3"
            print(f"  {k:20s} median {median(xs):12.5g}  rel IQR {spread:6.3f}"
                  f"  bound {bounds.get(k, 0):.2f}{flag}")
    os.makedirs(os.path.join(ROOT, ".bench_build", "perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "spread.json"), "w") as fh:
        json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
