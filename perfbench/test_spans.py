"""Tests for the benchmark's span arithmetic, job attribution and event-log
parsing. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json

import pytest

import spans as tr


def _span(i, layer, start, end, parent=None, op=None):
    return tr.Span(i, f"s{i}", layer, start, end, parent, op)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "queries", 1.0, 4.0, parent=0),
        _span(2, "sources", 2.0, 3.0, parent=1),
        _span(3, "exec", 4.0, 9.5, parent=0),
    ]
    st = tr.self_times(spans)
    assert st == pytest.approx({0: 1.5, 1: 2.0, 2: 1.0, 3: 5.5})
    # disjoint children: the self times add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    # two children on different threads overlap in [3, 4]
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "operators.cc", 1.0, 4.0, parent=0),
        _span(2, "operators.cc", 3.0, 6.0, parent=0),
    ]
    assert tr.self_times(spans)[0] == pytest.approx(10.0 - 5.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, "op", 0.0, 2.0), _span(1, "exec", 1.5, 3.0, parent=0)]
    assert tr.self_times(spans)[0] == pytest.approx(1.5)


def test_resolve_parents_places_after_the_fact_spans_by_interval():
    spans = [
        _span(0, "op", 0.0, 10.0, op=0),
        _span(1, "exec", 4.0, 9.0, parent=0, op=0),
        _span(2, "catalyst", 4.5, 5.0),  # an optimizer phase inside the action
        _span(3, "streaming", 1.0, 2.0),  # a micro-batch inside the op root
    ]
    tr.resolve_parents(spans)
    assert spans[2].parent == 1 and spans[2].op == 0
    assert spans[3].parent == 0 and spans[3].op == 0


def test_job_from_thread_outside_the_group_is_attributed_by_time():
    spans = [
        _span(0, "op", 0.0, 5.0, op=0),
        _span(1, "queries", 0.1, 3.0, parent=0, op=0),
        _span(2, "operators.cc", 1.0, 2.5, parent=1, op=0),
        _span(3, "op", 5.0, 9.0, op=1),
        _span(4, "exec", 5.5, 8.0, parent=3, op=1),
    ]
    group_ops = {"g0": 0, "g1": 1}
    jobs = [
        tr.Job(10, "g0", 0.5, 0.6),   # in-group, builder
        tr.Job(11, None, 1.5, 1.9),   # thread pool, no group: inside the CC span
        tr.Job(12, None, 6.0, 6.5),   # micro-batch thread during op 1's action
        tr.Job(13, "g0", 6.0, 6.1),   # group of op 0 but fired during op 1
        tr.Job(14, None, 20.0, 21.0),  # after the loop
    ]
    owner = tr.attribute_jobs(jobs, spans, group_ops)
    assert owner == {10: 1, 11: 2, 12: 4, 13: None, 14: None}


def test_wrap_injects_cc_stats_and_records_rounds():
    tracer = tr.Tracer()

    def cc(edges, stats=None):
        stats["rounds"] = 3
        return edges

    wrapped = tracer.wrap(cc, "connected_components", "operators.cc")
    assert wrapped("e") == "e"
    (s,) = tracer.spans
    assert s.attrs["rounds"] == 3 and s.end >= s.start
    # a caller's own dict is used, not replaced
    mine: dict = {}
    wrapped("e", stats=mine)
    assert mine == {"rounds": 3}


def test_patch_rebinds_from_imports_and_unpatch_restores():
    pytest.importorskip("pyspark")
    import notion_timetracking_etl_spark.operators.cluster as cluster
    import notion_timetracking_etl_spark.queries.clusters as qclusters

    original = cluster.connected_components
    undo = tr.patch(tr.Tracer())
    try:
        assert qclusters.connected_components is cluster.connected_components
        assert qclusters.connected_components.__wrapped__ is original
    finally:
        tr.unpatch(undo)
    assert qclusters.connected_components is original


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"Name": "internal.metrics.executorCpuTime", "Value": 2_000_000_000},
                {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 1e6},
                {"Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 2e6},
                {"Name": "data sent to Python workers", "Value": "3000000"},
            ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tr.parse_event_log(str(path))
    job = log.jobs[0]
    assert (job.group, job.submit, job.end, job.stage_ids) == ("g0", 1.0, 2.5, (0, 1))
    st = log.stages[1]
    assert st["tasks"] == 2 and st["failed_tasks"] == 1 and st["completed"]
    assert st["task_run_s"] == pytest.approx(1.5)
    assert st["task_cpu_s"] == pytest.approx(2.0)
    assert st["shuffle_read_mb"] == pytest.approx(3.0)
    assert st["python_mb"] == pytest.approx(3.0)
    assert 0 not in log.stages  # never ran: counted as skipped by its job
