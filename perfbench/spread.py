"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload rag_ingest --seeds 1-10 [--trace 1]

Runs one process per seed, one after another, from the current checkout
with BENCHMARK.json's `run_seconds`, and prints per metric the median
and the inter-quartile distance over the median (the acceptance spread
BENCHMARK.json's bounds apply to), plus each run's wall time. Each
run's output is kept in `.perfbench_work/spread-<workload>-<seed>.log`. With
`--trace 1` it also reports which count metrics (jobs, tasks, py4j
calls) did not repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance over the median (the acceptance spread)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    runs, walls = [], []
    for seed in _seeds(a.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
            capture_output=True, text=True, check=False,
        )
        walls.append(time.perf_counter() - t)
        os.makedirs(".perfbench_work", exist_ok=True)
        with open(f".perfbench_work/spread-{a.workload}-{seed}.log", "w") as fh:
            fh.write(p.stdout + p.stderr)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        r = json.loads(lines[-1])
        runs.append(r)
        print(f"seed {seed}: {walls[-1]:.1f}s correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}", flush=True)
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        if a.trace:
            if len(set(vals)) > 1 and name.endswith(("jobs", "tasks", "py4j_calls")):
                print(f"{name}: NOT REPEATED {vals}")
            continue
        spread = quartile_spread(vals) if len(vals) >= 2 and med else float("nan")
        print(f"{name:24s} median {med:12.4f}  spread {spread:.3f}  "
              f"min {min(vals):.4f} max {max(vals):.4f}")
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
