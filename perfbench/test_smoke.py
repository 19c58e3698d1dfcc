"""Smoke test of the benchmark at tiny sizes.

Every workload runs once untraced and each gated workload once traced;
each run must exit 0, pass every correctness check and print exactly the
metrics BENCHMARK.json names, with their units. A copy holding only
BENCHMARK.json and this directory must fail without printing a result.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each Spark run takes about a minute.
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
GATED = [w["name"] for w in SPEC["workloads"]]
# the layers each gated workload calls; their traced counters must be non-zero
CALLED = {
    "analytics": ["components", "communities", "triangles"],
    "refresh": ["ids", "pagerank", "checkpointing", "incremental"],
}


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [(w, 0) for w in ["ingest", *GATED]] + [(w, 1) for w in GATED],
)
def test_every_metric_emitted_and_every_check_passes(workload, trace):
    proc = run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, report["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert report["metrics"]["failed_ratio"] == 0.0
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
    if not trace:
        assert all(result["metrics"][m]["value"] > 0 for m in want)
    else:
        for layer in CALLED[workload]:
            for counter in ("jobs", "tasks", "executor_run_s"):
                assert result["metrics"][f"{layer}.{counter}"]["value"] > 0, layer


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(
        "out", ".work", "__pycache__"))
    proc = run(GATED[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
