#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest scale (sf0.001, 2K orders).

    python3 perfbench/selftest.py

Runs every workload traced, with a wrong output planted in the first op,
and asserts that every Spark job in the event log falls in exactly one
span, that the planted output is counted as failed, and that the run
reports exactly the per-layer metrics BENCHMARK.json names.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        per_layer = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    for workload in sorted(WORKLOADS):
        with tempfile.NamedTemporaryFile(suffix=".json",
                                         dir=os.path.dirname(HERE)) as det:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", "1", "--scale", "smoke", "--plant-wrong",
                 "--detail", det.name],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=600)
            if proc.returncode != 0:
                raise SystemExit(f"{workload}: exit code {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            detail = json.load(det)
        failed_ratio = result["failed"] / result["attempted"]
        checks = {
            "jobs were traced": detail["jobs"] > 0,
            "every job falls in one span": detail["jobs_unattributed"] == 0,
            "planted output counted in failed_ratio": failed_ratio > 0
            and not result["correct"],
            "only the planted op failed": result["failed"] == 1,
            "per-layer metrics match BENCHMARK.json": per_layer == {
                k: v["unit"] for k, v in result["metrics"].items()},
        }
        for what, ok in checks.items():
            print(f"{'ok  ' if ok else 'FAIL'} {workload}: {what}")
        if not all(checks.values()):
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
