#!/usr/bin/env python3
"""Benchmark of the graft rollup engine.

    python3 perfbench/run.py --workload tier_sync|catalog \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine from the
checkout's own sources together with the harness in perfbench/src (sbt,
offline); later runs reuse the build while no source changes. The run's
scratch data lives under .bench_build/perfbench/run, wiped at start.

Every line but the last is a human-readable report. The last line is one
JSON object: correct, attempted, failed and metrics -- the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer ones with --trace 1.
See perfbench/README.md for what each workload and metric means.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
REFERENCE = os.path.join(HERE, "reference", "catalog.json")
WORKLOADS = ("tier_sync", "catalog")
RUN_LIMIT_S = 175  # a run, from start to result
FIRST_RUN_LIMIT_S = 895  # a run that has to build first
# Spark task threads: one fewer than the CPUs, so the driver, JIT compiler
# and GC threads have a CPU of their own. At local[nproc] on 4 CPUs the
# same backfill, repeated in one run, varied by a fifth; at local[nproc-1]
# by a twentieth, and ran faster.
CORES = max(1, len(os.sched_getaffinity(0)) - 1)

sys.path.insert(0, HERE)
import metrics  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build depends on, sorted."""
    out = []
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build():
    """Compile engine + harness; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"], False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the first spark-submit on the PATH that sits in a Spark installation
        homes = [os.path.realpath(os.path.join(d, os.pardir))
                 for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            fail("set SPARK_HOME or put a Spark installation's spark-submit on PATH")
        env["SPARK_HOME"] = homes[0]
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            fh, FIRST_RUN_LIMIT_S - 60, cwd=HERE, env=env)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("".join(ln + "\n" for ln in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    return lines[-1], True


def run_bounded(cmd, out, limit_s, **kw):
    """Run cmd in its own process group; returns its exit code, or None
    when it was killed after limit_s. The group never outlives this call."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def harness(workload, seed, seconds, trace, t_start=None):
    """Build if needed, run the harness JVM once; returns its raw JSON."""
    t_start = time.monotonic() if t_start is None else t_start
    classpath, built = build()
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t_start)
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    # a fixed heap: a growing one resized at different times in each run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(CORES), "--work", work, "--out", out,
            "--data", DATA]
    log = os.path.join(BUILD, "run.log")
    with open(log, "w") as fh:
        rc = run_bounded(cmd, fh, limit, cwd=ROOT)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}; log in {log}", 3)
    with open(out) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    t_start = time.monotonic()
    # a terminated run still stops the JVM or build it started (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    if a.workload == "catalog" and not os.path.isdir(DATA):
        fail(f"catalog data missing: {DATA}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    raw = harness(a.workload, a.seed, a.seconds, a.trace, t_start)

    reference = None
    if a.workload == "catalog" and os.path.exists(REFERENCE):
        with open(REFERENCE) as fh:
            reference = json.load(fh)
    report = metrics.summarize(a.workload, raw, bool(a.trace), CORES, reference)
    for line in report["lines"]:
        print(line)
    if report["attempted"] < 1:
        fail("no operation was attempted", 4)
    # exactly the metrics BENCHMARK.json lists
    listed = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    report["metrics"] = {k: report["metrics"][k] for k in listed}
    print(json.dumps({k: report[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
