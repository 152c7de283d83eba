#!/usr/bin/env python3
"""Run the flow benchmark's self-tests (no Spark session): generator
determinism, hand-worked oracle cases, the tail-percentile rule and the
consistency of BENCHMARK.json with the README's metric map.

    python3 flowbench/selftest.py      # from the checkout root
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[flowbench] build failed: {e}", file=sys.stderr)
        return 1
    return subprocess.call(run.java_cmd("graft.flowbench.SelfTest", [run.ROOT], classes),
                           cwd=run.ROOT)


if __name__ == "__main__":
    sys.exit(main())
