"""Unit tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest streambench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import layers  # noqa: E402
import spec  # noqa: E402
import stats  # noqa: E402
import wl_lake  # noqa: E402


# ---- percentiles ------------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    vals = list(range(1, 101))  # 100 samples: p90 = 90, ten beyond
    assert stats.percentile(vals, 90) == 90
    with pytest.raises(ValueError):
        stats.percentile(vals[:99], 90)  # 99 samples: nine beyond


def test_median_is_interpolated_and_order_free():
    assert stats.percentile([4, 1, 3, 2], 50) == 2.5


def test_highest_supported_percentile():
    assert stats.highest_supported_percentile(8) == 50
    assert stats.highest_supported_percentile(20) == 50
    assert stats.highest_supported_percentile(40) == 75
    assert stats.highest_supported_percentile(100) == 90
    assert stats.highest_supported_percentile(1000) == 99
    for n in (3, 8, 20, 30, 40, 99, 108, 1000):
        p = stats.highest_supported_percentile(n)
        assert p == 50 or stats.samples_beyond(n, p) == stats.MIN_BEYOND
        stats.percentile(range(n), p)  # never refused


# ---- span self time ----------------------------------------------------------


def test_self_time_counts_overlapping_children_once():
    parent = (0.0, 100.0)
    children = [(10.0, 30.0), (20.0, 40.0), (35.0, 50.0), (90.0, 120.0), (-5.0, 2.0)]
    # covered: [0,2] + [10,50] + [90,100] = 2 + 40 + 10
    assert stats.self_time(parent, children) == pytest.approx(48.0)


def test_self_time_without_children_is_the_duration():
    assert stats.self_time((5.0, 9.0), []) == 4.0


# ---- compaction cycles ----------------------------------------------------------


def test_whole_cycles_start_at_the_first_compaction_after_warmup():
    cycles = stats.whole_cycles(range(0, 14), compact_every=4, warmup=4)
    assert cycles == [[4, 5, 6, 7], [8, 9, 10, 11]]  # 12..13 is not whole


def test_whole_cycles_round_warmup_up_to_a_compaction():
    assert stats.whole_cycles(range(0, 16), compact_every=4, warmup=5) == [
        [8, 9, 10, 11],
        [12, 13, 14, 15],
    ]


def test_whole_cycles_skip_a_cycle_with_a_missing_batch():
    ids = [b for b in range(0, 16) if b != 9]
    assert stats.whole_cycles(ids, compact_every=4, warmup=4) == [
        [4, 5, 6, 7],
        [12, 13, 14, 15],
    ]


def test_whole_cycles_never_start_at_batch_zero():
    # batch 0 compacts nothing, so the first cycle starts at compact_every
    assert stats.whole_cycles(range(0, 8), compact_every=4, warmup=0) == [[4, 5, 6, 7]]


def test_slope():
    assert stats.slope([1, 2, 3], [10, 12, 14]) == pytest.approx(2.0)


# ---- event log -------------------------------------------------------------------


def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _job_start(job, t, stages, props=None):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Submission Time": t,
        "Stage IDs": stages,
        "Properties": props or {},
    }


def _task_end(stage, run_ms, cpu_ns, shuffle=0, py=None):
    acc = [{"Name": k, "Update": str(v)} for k, v in (py or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


@pytest.fixture()
def small_log(tmp_path):
    """Three jobs: one carrying micro-batch properties, one from a helper
    thread inside the same trigger, one outside any trigger; plus one scan
    reporting its files through a driver accumulator update."""
    batch = {"sql.streaming.queryId": "q1", "streaming.sql.batchId": "7",
             "spark.sql.execution.id": "3"}
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        _job_start(0, 1000, [0, 1], batch),
        _task_end(0, 50, 40_000_000, shuffle=100),
        _task_end(1, 30, 20_000_000,
                  py={eventlog.PY_SENT: 10, eventlog.PY_RETURNED: 5, eventlog.PY_RUN_MS: 12}),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        _job_start(1, 1050, [2], {"spark.sql.execution.id": "4"}),
        _task_end(2, 20, 10_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1200},
        _job_start(2, 5000, [3]),
        _task_end(3, 5, 1_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5010},
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": 4,
            "sparkPlanInfo": {
                "nodeName": "Scan parquet",
                "metrics": [{"name": eventlog.FILES_READ, "accumulatorId": 77}],
                "children": [],
            },
        },
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
            "executionId": 4,
            "accumUpdates": [[77, 6], [78, 1000]],
        },
    ]
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    _write_log(log_dir / "local-1", events)
    return str(log_dir)


def test_parse_event_log_sums_task_metrics_per_job(small_log):
    log = eventlog.parse_event_log(eventlog.find_event_log(small_log))
    j0, j1, j2 = log.jobs
    assert (j0.query_id, j0.batch_id, j0.execution_id) == ("q1", 7, 3)
    assert j0.tasks == 2 and j0.executor_run_ms == 80
    assert j0.executor_cpu_ms == pytest.approx(60.0)
    assert j0.shuffle_write_bytes == 100
    assert (j0.python_bytes_sent, j0.python_bytes_returned, j0.python_run_ms) == (10, 5, 12)
    assert j1.query_id is None and j1.end_ms == 1200
    assert log.files_read_by([j0, j1]) == 6


def test_attribution_by_properties_then_by_interval(small_log):
    log = eventlog.parse_event_log(eventlog.find_event_log(small_log))
    trigger = eventlog.Interval("t7", 990, 1300, "q1", 7)
    other = eventlog.Interval("other", 1000, 1300)  # overlaps; listed second
    left = eventlog.attribute_jobs(log.jobs, [trigger, other])
    assert [j.job_id for j in trigger.jobs] == [0, 1]
    assert other.jobs == []
    assert [j.job_id for j in left] == [2]
    # driver-only time of the trigger: 310 ms minus the 200 ms its jobs cover
    assert 310 - eventlog.job_union_ms(trigger.jobs, 990, 1300) == pytest.approx(110)


def test_attribution_keeps_a_job_of_another_batch_out(small_log):
    log = eventlog.parse_event_log(eventlog.find_event_log(small_log))
    wrong_batch = eventlog.Interval("t8", 0, 10_000, "q1", 8)
    eventlog.attribute_jobs(log.jobs, [wrong_batch])
    assert 0 not in [j.job_id for j in wrong_batch.jobs]


# ---- fixed work and the metric list -------------------------------------------------


def test_lake_op_sequence_has_fixed_class_counts():
    a = wl_lake.op_sequence(1, 30)
    b = wl_lake.op_sequence(2, 30)
    assert a != b
    assert sorted(a) == sorted(b)
    assert len(a) == 30
    assert a.count("probe") == 2 and a.count("point") == 15


def test_benchmark_json_matches_the_metric_lists():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
