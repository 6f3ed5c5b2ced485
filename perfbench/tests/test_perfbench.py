"""Tests of the benchmark itself: seeded inputs, metric names, and a
tiny-size smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_match_benchmark_json():
    bench = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_METRICS
    assert layers == run.per_layer_units()
    assert len(layers) <= 128
    for name, unit in {**e2e, **layers}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_fails_without_the_package(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, a run must
    fail fast and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "assign", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark():
    run._prepare_env()
    session = run.start_session(min(4, len(os.sched_getaffinity(0))))
    yield session
    run.stop_session(session)


@pytest.mark.parametrize("name", run.WORKLOAD_NAMES)
def test_same_seed_same_input_hash(spark, name):
    from spans import Tracer
    from workloads import SIZES, WORKLOADS

    def input_hash(seed: int) -> str:
        wl = WORKLOADS[name](spark, seed, SIZES["tiny"][name], Tracer(spark), run.WORKDIR)
        wl.make_inputs()
        h = wl.input_hash()
        wl.release_inputs()
        return h

    first = input_hash(7)
    assert input_hash(7) == first
    assert input_hash(8) != first


@pytest.mark.parametrize("name", run.WORKLOAD_NAMES)
def test_tiny_smoke_run_passes_its_checks(spark, name):
    # the linear run is traced, which exercises every probe on the pipeline
    trace = name == "linear"
    report = run.run_workload(spark, name, seed=3, seconds=0, trace=trace, size="tiny")
    assert report["correct"], (report["setup_problems"], [o["problems"] for o in report["ops"]])
    assert report["attempted"] >= (2 if trace else 1) and report["failed"] == 0
    result = json.loads(run.result_line(report))
    expected = run.per_layer_units() if trace else run.E2E_METRICS
    assert set(result["metrics"]) == set(expected)
    if trace:
        reached = {k.split(".")[0] for k, v in result["metrics"].items()
                   if k.endswith(".self_pct") and v["value"] > 0}
        assert {"collapse", "blocking", "pairs", "refine", "validate", "checkpoint"} <= reached
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
