"""Self-test of the benchmark's own machinery, without Spark:

    python3 -m pytest perfbench -q -p no:cacheprovider

It runs the event-log parser on a small canned log and the order
statistics the reports rely on, and checks that BENCHMARK.json names
exactly the metrics ``run.py`` prints.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import pytest

from perfbench import run, tracing as TR

HERE = Path(__file__).resolve().parent


@pytest.fixture(scope="module")
def log():
    return TR.read_event_log(HERE / "testdata")


def test_tasks_file_under_their_job_group(log):
    assert sorted(log["groups"], key=str) == [None, "span-3", "span-4"]
    assert len(log["groups"]["span-3"]) == 5
    assert log["stages"] == {0: "span-3", 1: "span-3", 2: None, 3: "span-4"}


def test_task_metrics_are_converted_to_seconds_and_bytes(log):
    t0, t1, reader = log["groups"]["span-3"][:3]
    assert t0["run_s"] == pytest.approx(0.1)
    assert t0["cpu_s"] == pytest.approx(0.05)
    assert t0["gc_s"] == pytest.approx(0.01)
    assert t0["bytes_read"] == 4096 and t0["shuffle_write"] == 512
    assert reader["shuffle_read"] == 1024
    assert reader["fetch_wait_s"] == pytest.approx(0.005)
    assert reader["spill"] == 96


def test_python_sql_metrics_are_collected(log):
    tasks = log["groups"]["span-3"]
    assert sum(t.get(TR.PY_SENT, 0) for t in tasks) == 2000
    assert sum(t.get(TR.PY_RECEIVED, 0) for t in tasks) == 800
    assert TR.metric_sum(tasks, TR.PY_TOTAL) == pytest.approx(0.6)
    assert TR.metric_sum(tasks, TR.PY_BOOT) == pytest.approx(0.1)
    assert TR.metric_sum(tasks, TR.PY_INIT) == pytest.approx(0.04)
    assert TR.metric_sum(tasks, "shuffle_write") == 1024
    assert "number of output rows" not in tasks[0]


def test_span_tasks_include_children(log):
    spans = [{"id": 0, "parent": None}, {"id": 1, "parent": None},
             {"id": 2, "parent": 1}, {"id": 3, "parent": 2}, {"id": 4, "parent": 0}]
    assert TR.span_descendants(spans, [1]) == {1, 2, 3}
    assert len(TR.tasks_of(log, TR.span_descendants(spans, [1]))) == 5
    assert len(TR.tasks_of(log, TR.span_descendants(spans, [0]))) == 1


def test_skew_ratio_uses_the_widest_stage(log):
    # stage 1 has three tasks (0.1, 0.1, 0.4 s): max/median = 4
    assert TR.skew_ratio(log["groups"]["span-3"]) == pytest.approx(4.0)
    assert TR.skew_ratio([]) == 0.0


def test_quartiles_match_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
    assert list(TR.quartiles(values)) == statistics.quantiles(values, n=4)
    assert TR.quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert TR.median(values) == statistics.median(values)


def test_tail_is_highest_percentile_with_ten_beyond():
    values = list(range(1, 51))                 # 50 samples
    value, pct, n = TR.tail(values)
    assert (value, pct, n) == (40.0, 80.0, 50)
    assert sum(v > value for v in values) == 10
    assert TR.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_benchmark_json_matches_the_printed_metrics():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert any(m["name"] == "setup_s" and m["bound"] == max(
        x["bound"] for x in spec["end_to_end"]) for m in spec["end_to_end"])
