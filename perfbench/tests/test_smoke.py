"""End-to-end smoke runs of every workload at scale 0.001 (a few seconds of
measurement each; Spark starts once per run)."""

import json
import os
import shutil
import subprocess
import sys

import pytest
from conftest import BENCH, ROOT

import run

SMOKE_TIMEOUT = 300


def _run(cwd, *args):
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=SMOKE_TIMEOUT)


@pytest.mark.parametrize("workload", sorted(run.workloads.WORKLOADS))
def test_traced_smoke_run_prints_every_metric(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "1", "--scale", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is True, p.stdout
    assert result["attempted"] >= 2 and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    text = "\n".join(lines[:-1])
    printed = {line.split()[0]: line.split()[2] for line in lines[1:-1] if len(line.split()) >= 3}
    names = {**{k: k for k in run.E2E_UNITS}, **run.E2E_NAMES[workload]}
    for key, name in names.items():
        assert printed[name] == run.E2E_UNITS[key], name
    assert printed["peak_rss_mb"] == "MB"
    assert printed["error_rate"] == "share"
    for name, unit in run.PER_LAYER.items():
        assert any(line.split()[:1] == [name] and line.split()[-1] == unit for line in lines), name
    if workload == "tick_ingest":
        # Each trigger runs the stream's stateful stage: one task per shuffle
        # partition, which the session sizes to max(cores, 8).
        partitions = max(len(os.sched_getaffinity(0)), 8)
        assert result["metrics"]["streaming.tasks"]["value"] >= partitions


def test_untraced_smoke_run_reports_end_to_end_metrics():
    p = _run(ROOT, "--workload", "analyst_queries", "--seed", "2", "--seconds", "1", "--trace", "0", "--scale", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["attempted"] == len(run.workloads.ANALYST_QUERIES)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    p = _run(tmp_path, "--workload", "tick_ingest", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""
