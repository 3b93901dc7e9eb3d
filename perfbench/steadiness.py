#!/usr/bin/env python3
"""Run one workload once per seed and summarize each metric's spread.

Usage (from the repository root):

    python3 perfbench/steadiness.py --workload bulk_sparse_drift --seeds 1-10

For every metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median. Runs use the command and
``run_seconds`` of BENCHMARK.json and go one after another, so that they do
not compete for the cores.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
    }


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    args = p.parse_args()

    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.monotonic() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect result {result}", file=sys.stderr)
            return 1
        line = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed} wall {walls[-1]:.1f}s {json.dumps(line)}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    report = {k: summarize(v) for k, v in values.items()}
    report["run_wall_s"] = summarize(walls)
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "seconds": bench["run_seconds"], "metrics": report}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
