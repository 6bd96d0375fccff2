"""Smoke tests of the benchmark itself, at tiny sizes:

    python3 -m pytest perfbench -q

Each test starts one benchmark process (one Spark session), so the
module takes a few minutes.
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
sys.path.insert(0, HERE)

from run import E2E, per_layer_names  # noqa: E402


def bench(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload, "--seed", "3"]
    p = subprocess.run(
        [*cmd, "--seconds", "1", "--smoke", *extra], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", ["etl_daily", "etl_upsert_large", "analytics_mix"])
def test_every_end_to_end_metric_printed_with_unit(workload):
    code, lines = bench(workload, "--trace", "0")
    assert code == 0
    out = result(lines)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: m["unit"] for k, m in out["metrics"].items()} == E2E
    assert all(m["value"] > 0 for m in out["metrics"].values())
    for name, unit in E2E.items():  # also printed by name, one per line
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_names()


def test_every_per_layer_metric_printed_with_unit():
    code, lines = bench("etl_daily", "--trace", "1")
    assert code == 0
    out = result(lines)
    assert out["correct"]
    assert {k: m["unit"] for k, m in out["metrics"].items()} == per_layer_names()
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["cycle.spark_jobs"] > 0 and m["pipeline.write_version_s"] > 0
    assert m["trace.cycle_coverage"] >= 0.9


@pytest.mark.parametrize("workload", ["etl_daily", "analytics_mix"])
def test_corrupted_expectation_raises_error_rate(workload):
    code, lines = bench(workload, "--trace", "0", "--corrupt")
    assert code == 0
    out = result(lines)
    assert not out["correct"] and out["failed"] > 0
    assert json.loads(lines[-2 - len(out["metrics"])])["error_rate"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = bench("etl_daily", cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith("{\"correct\"") for line in lines)
