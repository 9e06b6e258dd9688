"""Tiny-size end-to-end runs of every workload, and the failure mode
without the engine. Each run starts its own Spark JVM (about a minute)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_is_correct_and_complete(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_units() if trace == "1" else run.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, "--workload", "web_pipeline", "--seed", "1", "--seconds", "1",
               "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
