"""Tiny-size smoke test of the benchmark.

For every workload, untraced and traced: every metric BENCHMARK.json
names is printed with its unit, every correctness check passes, and the
traced run's span self-times add up to its wall time. Also: without the
engine next to it, the benchmark fails without printing a result.

    python3 -m pytest perfbench/tests -q        # from the repository root
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
SIZES = {"kg_fused": 200, "corpus_prep": 500}
# traced warm runs: sum of span self-times over the measured wall time
COVERAGE_TOLERANCE = 0.02


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def test_workloads_are_declared():
    assert set(SIZES) == {w["name"] for w in _spec()["workloads"]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SIZES))
def test_metrics_and_checks(workload, trace):
    proc = _bench(ROOT, "--workload", workload, "--seed", "3",
                  "--seconds", "1", "--trace", str(trace),
                  "--size", str(SIZES[workload]))
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 3
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert ({k: v["unit"] for k, v in result["metrics"].items()}
            == {m["name"]: m["unit"] for m in declared})
    if trace:
        coverage = result["metrics"]["trace.span_coverage"]["value"]
        assert abs(coverage - 1.0) <= COVERAGE_TOLERANCE, coverage


def test_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(str(tmp_path), "--workload", "kg_fused", "--seed", "1",
                  "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
