"""Smoke test of the benchmark command at sf0.001.

Runs every workload untraced and traced, each in its own process as the
benchmark is run, and checks the output contract: a final JSON line with
correct results and every metric BENCHMARK.json declares. Run from the
repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# serve's traced run is long enough to reach the strategy-breakdown slot
CASES = [("serve", 0, 1), ("serve", 1, 30), ("batch-refresh", 0, 1),
         ("batch-refresh", 1, 1), ("stream-ingest", 0, 1), ("stream-ingest", 1, 1)]
LAYER_OF = {"serve": "recommend.service.recs_ms",
            "batch-refresh": "queries.recommend_batch.call_ms",
            "stream-ingest": "streaming.batches"}


def _run(workload: str, trace: int, seconds: float) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", str(seconds), "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("workload,trace,seconds", CASES)
def test_workload_contract(workload, trace, seconds):
    result, stdout = _run(workload, trace, seconds)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, stdout
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        assert result["metrics"][LAYER_OF[workload]]["value"] > 0
        assert result["metrics"]["session.jobs_per_op"]["value"] > 0
    if (workload, trace) == ("serve", 1):
        assert re.search(r'"strategies": [1-9]', stdout), stdout  # breakdown reached


def test_refuses_to_run_without_the_repository(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files present, the
    command fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""
