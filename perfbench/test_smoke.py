"""Smoke test of the benchmark itself: one round of each workload at toy
sizes must print every metric BENCHMARK.json names, with its unit, and
pass every output check.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
    assert proc.returncode == 0
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    res = run_bench(workload, trace=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for metric in SPEC["end_to_end"]:
        assert res["metrics"][metric["name"]]["unit"] == metric["unit"]
        assert res["metrics"][metric["name"]]["value"] > 0
    assert res["metrics"]["ok_ratio"]["value"] == 1.0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics(workload):
    res = run_bench(workload, trace=1)
    assert res["correct"] and res["failed"] == 0
    for metric in SPEC["per_layer"]:
        assert res["metrics"][metric["name"]]["unit"] == metric["unit"]
    assert res["metrics"]["spark.jobs"]["value"] > 0


def test_refuses_to_run_without_the_package():
    alone = os.path.join(HERE, "_work", "alone")
    shutil.rmtree(alone, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(alone, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=alone, stdout=subprocess.PIPE, text=True, timeout=60)
    finally:
        shutil.rmtree(alone, ignore_errors=True)
    assert proc.returncode != 0 and proc.stdout == ""
