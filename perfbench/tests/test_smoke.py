"""Smoke test of the benchmark itself: every workload at its benchmark
size with the shortest measuring time, in both modes, must emit every
metric with its unit and count failures; and the benchmark must refuse
to run without the package beside it.

Run from the repository root (about ten minutes: each case starts a JVM
and runs its warm-up and at least two passes):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from run import END_TO_END, WORKLOADS, _per_layer_names  # noqa: E402


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric(workload: str, trace: int) -> None:
    proc = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert 0 <= result["failed"] <= result["attempted"]
    assert result["correct"] == (result["failed"] == 0)
    expected = END_TO_END if trace == 0 else _per_layer_names()
    for name, unit in expected.items():
        metric = result["metrics"][name]
        assert metric["unit"] == unit, name
        assert isinstance(metric["value"], (int, float)), name
    assert f"failed_frac {result['failed'] / result['attempted']:.4f}" in lines[-2]
    if trace:
        frac = result["metrics"]["failed_frac"]["value"]
        assert frac == result["failed"] / result["attempted"]
    else:
        assert all(result["metrics"][k]["value"] > 0 for k in END_TO_END)
    assert json.loads(lines[0])["stamp"]["nproc"] >= 1


def test_refuses_to_run_without_the_package(tmp_path: Path) -> None:
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = _run(tmp_path, "--workload", WORKLOADS[-1], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
