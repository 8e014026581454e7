"""Smoke test of the benchmark itself: every workload runs once at the
tiny size; every metric BENCHMARK.json names is emitted with its unit, no
op fails, and the traced run emits every per-layer metric.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes (each run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from common import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    result = json.loads(lines[-1])
    report = json.loads(lines[-2].split(" ", 1)[1])
    return result, report


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    result, report = run(workload, 0)
    assert_metrics(result, spec()["end_to_end"])
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and report["failure_ratio"] == 0.0
    assert result["correct"], report["failures"]


def test_traced_run_emits_every_per_layer_metric():
    result, report = run("ingest_mutate", 1)
    assert_metrics(result, spec()["per_layer"])
    assert result["failed"] == 0 and result["correct"], report["failures"]
    assert report["trace"]["spans"] > 0


def test_refuses_to_run_outside_a_checkout():
    empty = os.path.join(ROOT, ".perfbench-work", "empty-dir")
    os.makedirs(empty, exist_ok=True)
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "ingest_mutate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=empty, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert not out.stdout.strip()
