"""The benchmark's own tests: tiny-size smoke runs of every workload,
injected corruption, and metric names against BENCHMARK.json.

    python3 -m pytest perfbench -q

Each case starts a Spark session in a subprocess (about a minute).
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, *extra: str, cwd: str = ROOT, seed: int = 3):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    return detail, result


def _run_checked(workload, *extra):
    return _result(_run(workload, *extra))


def _expected(kind: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOADS + ["crawl_fat"])
def test_smoke_prints_every_end_to_end_metric(workload):
    detail, result = _run_checked(workload, "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["error_rate"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _expected("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    detail, result = _run_checked(workload, "--trace", "1")
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _expected("per_layer")
    assert detail["phases"], "no jobs attributed to the traced operation"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_injected_corruption_raises_error_rate(workload):
    """One fetch-log row dropped (crawls) or one oracle row altered
    (analytics) must surface as a failed operation."""
    detail, result = _run_checked(workload, "--trace", "0", "--corrupt")
    assert result["failed"] >= 1 and not result["correct"]
    assert detail["error_rate"] > 0


def test_exits_nonzero_without_the_program(tmp_path):
    """A checkout holding only BENCHMARK.json and perfbench/ must fail
    fast and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout



def test_crawl_frontier_off_shape_counts_as_failed():
    """A crawl_frontier round at or below the salt-skip threshold, or a
    crawl without a frontier_base compaction, is reported off-shape."""
    sys.path[:0] = [HERE, ROOT]
    import workloads

    wl = workloads.WORKLOADS["crawl_frontier"]("full", False)

    def op(n_pending, tables):
        rounds = [{"round": -1, "committed_at": 1.0, "metrics": {}, "tables": {}},
                  {"round": 0, "committed_at": 2.0, "metrics": {"n_pending": n_pending},
                   "tables": dict.fromkeys(tables)}]
        return {"summary": {"rounds": rounds}}

    assert wl._off_shape(op(212_061, ["round_data", "frontier_base"])) == []
    assert wl._off_shape(op(200_000, ["round_data", "frontier_base"])) == ["n_pending"]
    assert wl._off_shape(op(212_061, ["round_data"])) == ["compaction"]
