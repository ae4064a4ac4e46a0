"""Self-test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Every workload runs in one shared Spark session: a tiny run reports
every named metric with its unit, a deliberately corrupted answer is
caught (error_rate > 0, correct false), and the command fails without
a result where the program is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

WORKLOADS = ["build", "query_batch", "query_interactive", "dedup"]


@pytest.fixture(scope="module")
def session():
    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t = time.perf_counter()
    spark = run.start_session(work)
    yield spark, time.perf_counter() - t, work
    run.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)


def tiny(session, workload, trace=0, corrupt=False):
    spark, session_s, work = session
    args = SimpleNamespace(workload=workload, seed=7, seconds=0.0,
                           trace=trace, scale="tiny", corrupt=corrupt)
    return run.execute(spark, args, session_s, work)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_end_to_end_metric(session, workload):
    record = tiny(session, workload)
    out = run.summary(record)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert record["error_rate"] == 0.0
    assert set(out["metrics"]) == set(run.E2E)
    for name, m in out["metrics"].items():
        assert m["unit"] == run.E2E[name]
        assert m["value"] > 0, name


TRACED = ["query_interactive", "dedup"]


@pytest.fixture(scope="module")
def traced(session):
    return {w: tiny(session, w, trace=1) for w in TRACED}


@pytest.mark.parametrize("workload", TRACED)
def test_traced_run_reports_every_layer_metric(traced, workload):
    record = traced[workload]
    out = run.summary(record)
    assert out["correct"]
    assert set(out["metrics"]) == set(run.LAYERS)
    assert any(s["traced"] for s in record["samples"])
    assert any(not s["traced"] for s in record["samples"])
    layers = record["layers"]
    if workload == "dedup":
        assert layers["dedup.planted_recall"] >= 0.99
        assert layers["dedup.verified_pairs"] > 0
    else:
        # the query workloads trace their setup build and the query path
        for name in ("forward.wall_s", "invert.postings", "segments.bytes",
                     "parser.wall_s", "executor.wall_s",
                     "executor.python_total_s", "kernels.blocks_decoded"):
            assert layers[name] > 0, name


def test_traced_runs_measure_every_listed_layer_metric(traced):
    """Between them the traced workloads measure every per-layer metric
    BENCHMARK.json lists; none is only a default 0."""
    measured = set().union(*(r["layers_measured"] for r in traced.values()))
    assert measured == set(run.LAYERS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_answer_is_caught(session, workload):
    record = tiny(session, workload, corrupt=True)
    out = run.summary(record)
    assert record["error_rate"] > 0
    assert not out["correct"] and out["failed"] >= 1


def test_benchmark_json_lists_known_workloads():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert "setup_s" in run.E2E


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: non-zero exit,
    no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = json.load(open(tmp_path / "BENCHMARK.json"))["command"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        cmd + ["--workload", "dedup", "--seed", "1", "--seconds", "1",
               "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
