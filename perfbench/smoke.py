#!/usr/bin/env python3
"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced at a tiny size (500
pages; sf0.001-sized query tables; one timed unit) through the same code
path as a real run, and asserts that each run prints every metric that
``BENCHMARK.json`` names, with its unit, that the output checks ran, and
that every check passed. Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload}/trace={trace} exited {proc.returncode}:\n"
                             f"{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload}/trace={trace}: metrics differ: {set(got) ^ set(want)}"
    assert {"oracle", "digest"} <= set(report["checks"]), report["checks"]
    assert result["correct"] and result["failed"] == 0, report.get("errors")
    assert result["attempted"] >= 1
    print(f"ok {workload} trace={trace} attempted={result['attempted']} "
          f"checks={report['checks']}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(w["name"], trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
