"""The trace folder: span self times, the job-group fold of an event
log, and the attribution of stream-thread jobs. Pure Python, no Spark:

    python -m pytest perfbench/trace_tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import spans
from perfbench.spans import Job, Span, Tracer


def _span(sid, start, end, parent=None, **attrs):
    return Span(id=sid, name=sid, start=start, end=end, parent=parent, run_id="r", attrs=attrs)


# ------------------------------------------------------------ self times


def test_self_times_of_sequential_children_sum_to_root_wall():
    tree = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, "root"),
        _span("a1", 2.0, 3.0, "a"),
        _span("b", 5.0, 9.5, "root"),
    ]
    st = spans.self_times(tree)
    assert st == pytest.approx({"root": 2.5, "a": 2.0, "a1": 1.0, "b": 4.5})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips_to_parent():
    tree = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, "root"),
        _span("b", 3.0, 6.0, "root"),
        _span("late", 9.0, 12.0, "root"),  # ends after its parent
    ]
    assert spans.self_times(tree)["root"] == pytest.approx(10.0 - 5.0 - 1.0)


def test_disabled_tracer_records_nothing_and_enabled_links_parents():
    off = Tracer("r", enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []

    on = Tracer("r", enabled=True)
    with on.span("outer"):
        with on.span("inner", query_ids=["q"]):
            pass
    outer, inner = on.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.attrs == {"query_ids": ["q"]}
    assert outer.start <= inner.start <= inner.end <= outer.end


# ------------------------------------------------------- event-log fold

# Listener events as Spark writes them to an uncompressed event log
# (one JSON object per line), trimmed to the fields the fold reads.
EVENT_LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "perfbench"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r:1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 400, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 600, "Memory Bytes Spilled": 64, "Disk Bytes Spilled": 32,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 500}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 250, "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2_500},
    # a micro-batch job: no caller job group, the stream's query id
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5_000,
     "Stage IDs": [2], "Properties": {"sql.streaming.queryId": "q-1",
                                      "spark.jobGroup.id": "stream-run-7"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 100}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5_400},
]


def _log_lines():
    lines = [json.dumps(e) for e in EVENT_LOG]
    return lines + ['{"Event": "SparkListenerTaskEnd", "Stage']  # a torn last line


def test_fold_sums_task_metrics_per_job():
    jobs = spans.fold_event_log(_log_lines())
    j0, j1 = jobs[0], jobs[1]
    assert (j0.group, j0.query_id, j0.stages) == ("r:1", None, [0, 1])
    assert (j0.submit, j0.end) == (1.0, 2.5)
    assert j0.tasks == 3
    assert j0.executor_run_s == pytest.approx(1.25)
    assert j0.shuffle_write_bytes == 1_500
    assert j0.spill_bytes == 96
    assert (j1.query_id, j1.tasks) == ("q-1", 1)


def test_job_group_fold_and_stream_thread_attribution():
    jobs = spans.fold_event_log(_log_lines())
    tree = [
        _span("r:0", 0.0, 10.0),
        _span("r:1", 0.5, 3.0, "r:0"),
        # the drain span recorded the stream's query id; the stream's own
        # job group ("stream-run-7") names no span
        _span("r:2", 4.0, 6.0, "r:0", query_ids=["q-1"]),
    ]
    owned = spans.attribute(jobs, tree)
    assert [j.id for j in owned["r:1"]] == [0]
    assert [j.id for j in owned["r:2"]] == [1]
    assert None not in owned

    c = spans.span_counters(tree, owned)
    assert c["r:1"]["jobs"] == 1 and c["r:1"]["tasks"] == 3
    assert c["r:1"]["driver_only_s"] == pytest.approx(2.5 - 1.5)
    assert c["r:2"]["driver_only_s"] == pytest.approx(2.0 - 0.4)
    # a parent owns its descendants' jobs
    assert c["r:0"]["jobs"] == 2
    assert c["r:0"]["driver_only_s"] == pytest.approx(10.0 - 1.5 - 0.4)


def test_stream_job_outside_every_span_with_its_query_id_is_unowned():
    jobs = {7: Job(id=7, group="stream-run-7", query_id="q-1", submit=20.0, end=21.0)}
    tree = [_span("r:2", 4.0, 6.0, query_ids=["q-1"]), _span("r:3", 19.0, 22.0)]
    owned = spans.attribute(jobs, tree)
    assert [j.id for j in owned[None]] == [7]


def test_same_query_id_across_restarts_goes_to_the_tick_that_ran_it():
    # availableNow restarts keep the query id; each tick's drain span
    # claims only the jobs submitted inside it
    jobs = {
        1: Job(id=1, group="run-a", query_id="q", submit=1.5, end=1.8),
        2: Job(id=2, group="run-b", query_id="q", submit=5.5, end=5.9),
    }
    tree = [_span("t1", 1.0, 2.0, query_ids=["q"]), _span("t2", 5.0, 6.0, query_ids=["q"])]
    owned = spans.attribute(jobs, tree)
    assert [j.id for j in owned["t1"]] == [1] and [j.id for j in owned["t2"]] == [2]
