#!/usr/bin/env python3
"""Smoke self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs ``run.py --size tiny`` for each workload untraced, and for one
workload traced, and asserts that the last output line is the result
object with exactly the contract's keys, that every metric named in
``BENCHMARK.json`` is printed with its unit (end-to-end ones untraced,
per-layer ones traced), that every value is a finite number, and that
every op's result matched its oracle. Takes a few minutes: each run
starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, expected: list[dict], label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["correct"] is True and result["failed"] == 0, (label, result)
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, label
    got = result["metrics"]
    names = {m["name"] for m in expected}
    assert set(got) == names, (label, sorted(set(got) ^ names))
    for m in expected:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (label, m["name"], v["unit"])
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (
            label, m["name"], v["value"])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        check(run(w["name"], 0), spec["end_to_end"], f"{w['name']} trace=0")
        print(f"ok: {w['name']} trace=0", flush=True)
    name = spec["workloads"][0]["name"]
    check(run(name, 1), spec["per_layer"], f"{name} trace=1")
    print(f"ok: {name} trace=1")
    return 0


if __name__ == "__main__":
    sys.exit(main())
