"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench.tracing import Tracer, covered, parse_event_log
from perfbench.workloads import rank_error

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=1200,
    )


# ------------------------------------------------------------ no Spark
def test_rank_error_is_distance_to_the_answers_rank_interval():
    xs = np.array([1, 2, 2, 2, 5, 7])
    assert rank_error(xs, 2, 0.5) == 0  # target rank 3 lies in [2, 4]
    assert rank_error(xs, 5, 0.5) == 2  # rank 5 vs target 3
    assert rank_error(xs, 1, 1.0) == 5
    assert rank_error(xs, 4, 0.5) == 1  # absent value: ranks (4, 4]


def test_span_self_time_and_innermost_lookup():
    tr = Tracer(True)
    tr.spans = [
        {"name": "bench.iteration", "start": 0.0, "end": 10.0, "parent": None, "run": "r"},
        {"name": "operators.kll_of", "start": 1.0, "end": 4.0, "parent": 0, "run": "r"},
        {"name": "operators.kll_of", "start": 5.0, "end": 6.0, "parent": 0, "run": "r"},
    ]
    assert tr.self_times() == {"bench.iteration": [6.0], "operators.kll_of": [3.0, 1.0]}
    assert tr.span_at(2.0)["start"] == 1.0
    assert tr.span_at(4.5)["name"] == "bench.iteration"
    assert tr.span_at(11.0) is None


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    assert tr.call("operators.x", lambda: 3) == 3
    assert tr.spans == []


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)], 1, 5.5) == pytest.approx(2.5)
    assert covered([], 0, 1) == 0


def test_event_log_parser_maps_counters_and_python_metrics(tmp_path):
    plan = {
        "nodeName": "FlatMapGroupsInPandas", "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
        ],
        "children": [{"nodeName": "MapInPandas", "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
            {"name": "time to run Python workers", "accumulatorId": 9, "metricType": "timing"},
        ], "children": []}],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {
            "Stage ID": 3, "Stage Attempt ID": 0, "Submission Time": 1500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "Success"}, "Task Metrics": {
             "Executor Run Time": 200, "Executor CPU Time": 10**8, "JVM GC Time": 5,
             "Input Metrics": {"Bytes Read": 100},
             "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
             "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
             "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 6}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": None},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Stage Attempt ID": 0, "Submission Time": 1500, "Accumulables": [
                {"ID": 7, "Name": "time to run Python workers", "Value": "1200"},
                {"ID": 8, "Name": "data sent to Python workers", "Value": "4096"},
                {"ID": 9, "Name": "time to run Python workers", "Value": "300"},
            ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stages, jobs = parse_event_log(str(path))
    assert jobs == [(1.0, 2.5)]
    (st,) = stages
    assert st["submit"] == 1.5 and st["tasks"] == 2 and st["failed_tasks"] == 1
    assert st["run_s"] == pytest.approx(0.2) and st["cpu_s"] == pytest.approx(0.1)
    assert (st["input_bytes"], st["shuffle_read_bytes"], st["shuffle_write_bytes"], st["spill_bytes"]) == (
        100, 3, 30, 10)
    assert st["py"]["merge"] == {"py_run": pytest.approx(1.2)}
    assert st["py"]["partial"] == {"py_bytes_to": 4096.0, "py_run": pytest.approx(0.3)}


def test_benchmark_json_matches_the_printed_units():
    from perfbench.run import E2E_UNITS

    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert [w["name"] for w in spec["workloads"]] == ["pages_report", "quantile_ingest"]


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pages_report", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ------------------------------------------------------------ Spark
def test_same_seed_same_inputs_other_seed_other_inputs():
    from perfbench.run import input_digests

    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        first = input_digests([1, 2])
        again = input_digests([1])
    finally:
        os.chdir(cwd)
    assert first[1] == again[1]
    for name in first[1]:
        assert first[1][name] != first[2][name], name


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_metric_with_its_unit_and_no_errors(trace, section):
    spec = _bench_json()
    proc = _run("--workload", "all", "--smoke", "--seed", "3", "--seconds", "2", "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    for w in spec["workloads"]:
        for m in spec[section]:
            got = res["metrics"][f"{w['name']}.{m['name']}"]
            assert got["unit"] == m["unit"], (w["name"], m["name"])
            assert isinstance(got["value"], float)
    rates = [ln.split()[1] for ln in lines if ln.startswith("error_rate")]
    assert rates == ["0"] * len(spec["workloads"])
