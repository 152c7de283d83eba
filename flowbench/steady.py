#!/usr/bin/env python3
"""Steadiness report: run one workload N times, each with its own seed,
and print every end-to-end metric's median, quartiles and spread
(interquartile distance over the median) against its bound in
BENCHMARK.json.

    python3 flowbench/steady.py --workload ingest_serve --runs 10

Runs use seeds 1..N and BENCHMARK.json's run_seconds. A metric whose
spread exceeds its bound fails to repeat, and so does any metric whose
spread exceeds a tenth; both are flagged. Quartiles follow Python's statistics.quantiles(values, n=4).
The per-run values and the summary go to
.bench_build/records/steady-<workload>.json. Exits 1 when a run fails
or a gated metric is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {m: [] for m in bounds}
    runs, bad = [], False
    for i in range(a.runs):
        seed = i + 1
        res = run_once(a.workload, seed, spec["run_seconds"])
        ok = res is not None and res["correct"] and res["failed"] == 0
        print(f"seed {seed}: " + ("ok" if ok else "FAILED") + (
            "  " + "  ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            if res else ""), flush=True)
        bad |= not ok
        runs.append({"seed": seed, "result": res})
        if res:
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
    summary = {}
    print(f"\n{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for m, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = ""
        if spread > bounds[m]:
            flag, bad = "OVER BOUND", True
        elif spread > 0.1:
            flag = "over a tenth"
        elif spread > bounds[m] / 3:
            flag = "over a third of the bound"
        summary[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                      "bound": bounds[m], "flag": flag}
        print(f"{m:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{bounds[m]:>8}  {flag}")
    out = os.path.join(ROOT, ".bench_build", "records")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"steady-{a.workload}.json"), "w") as f:
        json.dump({"workload": a.workload, "seconds": spec["run_seconds"], "runs": runs,
                   "summary": summary}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
