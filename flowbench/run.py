#!/usr/bin/env python3
"""Run one flow-benchmark workload and print its result.

    python3 flowbench/run.py --workload ingest_serve --seed 1 --seconds 20 --trace 0

Run from the checkout root. The first run builds the engine and the
benchmark (see build.py). The run drives one driver JVM on
local[nproc]; its work files live under .bench_build/ and are removed
when it ends. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The line before it is the full record, which is also written to
.bench_build/records/.
"""
import argparse
import json
import os
import selectors
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170

# Spark on JDK 17 needs these opens when the session is built outside
# spark-submit (the list spark-submit itself injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(main, args, classes):
    bench = os.path.join(ROOT, ".bench_build")
    tmp = os.path.join(bench, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed-size heap: no heap growth phases early in the run
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             f"-Dflowbench.work={os.path.join(bench, 'work')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classes + os.pathsep + build.classpath(), main] + args)


def run_jvm(cmd, limit):
    """Run the JVM, echo its stdout, return (exit code, last stdout line)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = None
    deadline = time.monotonic() + limit
    try:
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise subprocess.TimeoutExpired(cmd, limit)
            if not sel.select(timeout=min(left, 1.0)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            line = line.rstrip("\n")
            if line.strip():
                last = line
            print(line, flush=True)
        proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[flowbench] run exceeded {limit}s; killed", file=sys.stderr)
        return 1, None
    return proc.returncode, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[flowbench] build failed: {e}", file=sys.stderr)
        return 1
    # a first run's build takes its own time; the run keeps to RUN_LIMIT_S
    code, last = run_jvm(java_cmd("graft.flowbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--spec", os.path.join(ROOT, "BENCHMARK.json")], classes), RUN_LIMIT_S)
    if code != 0 or last is None:
        return code or 1
    try:
        res = json.loads(last)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("[flowbench] the run printed no result line", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
