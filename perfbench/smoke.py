"""Smoke self-test of the benchmark: every workload, untraced and traced,
for 2 timed ops on tiny inputs with validation on.

    python3 perfbench/smoke.py

Run from the root of a checkout. Checks that each run exits 0, that its
last stdout line is a result with no failed op, and that it reports
exactly the metrics ``BENCHMARK.json`` declares, each with its unit.
Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# tiny inputs: the ingest scale only sets how many poll windows exist
SCALE = {"ingest_tick": "0.005", "query_warm": "0.001"}


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "0",
                "--seconds", "1", "--trace", str(trace), "--ops", "2", "--sf", SCALE[wl],
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"FAIL {wl} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                return 1
            result = json.loads(lines[-1])
            units = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 2:
                problems.append(f"ops attempted={result['attempted']} failed={result['failed']}")
            if units != declared[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(declared[trace]))}")
            print(f"{'FAIL' if problems else 'ok  '} {wl} trace={trace} {'; '.join(problems)}")
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
