"""Self-test of the benchmark: minimal-length runs on the sf0.001 fixtures.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run starts its own SparkSession, so the whole file takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, seed: int = 7) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_no_failures(workload):
    out = bench(workload, trace=0)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_layer_metrics_and_exact_job_counts(workload):
    first, second = bench(workload, trace=1), bench(workload, trace=1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for out in (first, second):
        assert out["failed"] == 0
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert first["metrics"]["spark.jobs"]["value"] > 0
    assert first["metrics"]["spark.jobs"] == second["metrics"]["spark.jobs"]


def test_fails_without_the_engine(tmp_path):
    """In a tree that holds only the benchmark, the run exits non-zero
    and prints no result."""
    os.symlink(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    os.symlink(HERE, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
