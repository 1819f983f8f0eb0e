"""Smoke test of the benchmark: every workload at a tiny fixture scale
with a short pass.

    python -m pytest perfbench/tests -q

Each run must print every end-to-end metric of ``BENCHMARK.json`` with
its unit, answer every operation correctly (``failed_frac == 0``), and
the traced run must print every per-layer metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    record, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) and got["value"] > 0
    assert result["correct"] and result["failed"] == 0
    assert record["by_class"]["failed_frac"]["value"] == 0
    assert record["nproc"] >= 1 and record["shuffle_partitions"] >= 1


def test_per_layer_metrics():
    record, result = _run("serve_oltp", 1)
    names = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        assert result["metrics"][name]["unit"] == unit
    assert result["failed"] == 0
    # layer spans account for at least 95% of each op's wall time
    assert result["metrics"]["trace.coverage_min"]["value"] > 0.95
    assert result["metrics"]["jobs"]["value"] >= 1


def test_refuses_without_program(tmp_path):
    """In a directory with only the benchmark, the run fails cleanly."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_oltp", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
