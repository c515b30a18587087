"""Plumbing tests for the benchmark: every metric is emitted with its
unit, a planted wrong result is counted, and a checkout without the
engine fails cleanly. Each case starts a Spark JVM at scale factor
0.001, so the module takes a few minutes::

    python3 -m pytest lakebench -q
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["refresh_incremental"]


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "lakebench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def result(workload: str, trace: int, *extra: str) -> dict:
    out = bench(
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001", *extra,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_emits_every_metric_with_its_unit(workload, trace):
    res = result(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float), name
        if not trace:
            assert m["value"] > 0, name


@pytest.mark.parametrize("workload", ["refresh_full", "query_mix"])
def test_corrupted_result_is_counted(workload):
    res = result(workload, 0, "--corrupt")
    assert res["correct"] is False
    assert res["failed"] == 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "lakebench", ignore=shutil.ignore_patterns("__pycache__"))
    out = bench("--workload", "refresh_full", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()
