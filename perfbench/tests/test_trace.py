"""Event-log parsing, span attribution and self-time arithmetic."""

import json

import pytest

from perfbench import trace


def _span(sid, parent, layer, start, end, pass_index=1):
    return {
        "id": sid, "parent": parent, "layer": layer, "name": layer,
        "pass": pass_index, "start": start, "end": end,
    }


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "sources", 1.0, 4.0),
        _span(2, 0, "sinks", 3.0, 6.0),  # overlaps its sibling: union is 1..6
        _span(3, 2, "operators", 3.5, 4.5),
        _span(4, 0, "plans", 8.0, 9.0),
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_innermost_span_wins():
    spans = [_span(0, None, "bench", 0.0, 10.0), _span(1, 0, "sources", 2.0, 3.0)]
    assert trace.innermost(spans, 2.5)["id"] == 1
    assert trace.innermost(spans, 5.0)["id"] == 0
    assert trace.innermost(spans, 11.0) is None


def _task(stage, launch_ms, run_ms, cpu_ns, gc_ms, shuffle=0, out=0, inp=0, spill=0, ok=True):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch_ms, "Finish Time": launch_ms + run_ms, "Failed": not ok},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def canned_log():
    """Job 0 (group span-1) runs stages 0 and 1; job 1 (no group,
    submitted inside span 2) lists stages 1 and 2 but stage 1 already
    ran, so it is skipped; its SQL execution wrote 3 files."""
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        _task(0, 1100, 400, 300_000_000, 10, shuffle=500, inp=2000),
        _task(0, 1200, 500, 400_000_000, 20, shuffle=700, inp=3000, spill=64),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 1700}},
        _task(1, 1700, 300, 100_000_000, 0, ok=False),
        _task(1, 2000, 300, 200_000_000, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2300,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "sparkPlanInfo": {"nodeName": "Execute", "metrics": [],
          "children": [{"nodeName": "Write", "children": [],
                        "metrics": [{"name": "number of written files", "accumulatorId": 42}]}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [1, 2], "Properties": {"spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Submission Time": 5000}},
        _task(2, 5500, 1000, 900_000_000, 0, out=4096),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6500,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[42, 3], [99, 1000]]},
    ]
    return [json.dumps(e) for e in ev]


def test_event_log_parser_counts():
    log = trace.parse_event_log(canned_log())
    assert log["jobs"][0]["skipped"] == 0 and log["jobs"][1]["skipped"] == 1
    assert log["files_by_job"] == {1: 3}
    s0 = log["stages"][0]
    assert s0["tasks"] == 2 and s0["task_s"] == pytest.approx(0.9)
    assert s0["cpu_s"] == pytest.approx(0.7) and s0["gc_s"] == pytest.approx(0.03)
    assert s0["wait_s"] == pytest.approx(0.1 + 0.2)
    assert s0["shuffle_bytes"] == 1200 and s0["input_bytes"] == 5000 and s0["spill_bytes"] == 64
    assert log["stages"][1]["failed_tasks"] == 1


def test_jobs_attributed_by_group_then_by_time():
    spans = [
        _span(0, None, "bench", 0.5, 10.0),
        _span(1, 0, "sources", 0.9, 2.5),
        _span(2, 0, "sinks", 4.0, 7.0),
    ]
    c = trace.span_counters(spans, trace.parse_event_log(canned_log()))
    assert c[1]["jobs"] == 1 and c[1]["tasks"] == 4 and c[1]["failed_tasks"] == 1
    assert c[1]["stage_reuse_ratio"] == 0.0
    assert c[2]["jobs"] == 1 and c[2]["output_bytes"] == 4096 and c[2]["files_written"] == 3
    assert c[2]["stage_reuse_ratio"] == pytest.approx(0.5)
    # sinks span 4..7 s, job 1 ran 5..6.5 s
    assert c[2]["driver_s"] == pytest.approx(1.5)
    assert c[0]["jobs"] == 0 and c[0]["self_s"] == pytest.approx(9.5 - 1.6 - 3.0)


def test_layer_metrics_are_per_warm_pass_and_skip_the_cold_pass():
    spans = [
        _span(0, None, "session", 0.0, 0.4, pass_index=-1),
        _span(1, None, "sources", 0.9, 2.5, pass_index=1),
        _span(2, None, "sinks", 4.0, 7.0, pass_index=2),
        _span(3, None, "sinks", 20.0, 22.0, pass_index=0),
    ]
    progress = [{"pass": 1, "triggerExecution": 800, "addBatch": 500, "walCommit": 40},
                {"pass": 0, "triggerExecution": 9000}]
    m = trace.layer_metrics(spans, progress, trace.parse_event_log(canned_log()))
    assert m["session.wall_s"] == pytest.approx(0.4)
    assert m["sources.wall_s"] == pytest.approx(1.6 / 2)
    assert m["sinks.wall_s"] == pytest.approx(3.0 / 2)
    assert m["sinks.files_written"] == pytest.approx(1.5)
    assert m["streaming.trigger_s"] == pytest.approx(0.4)
    assert m["queries.jobs"] == 0
    assert set(m) >= {f"{layer}.{c}" for layer in trace.LAYERS for c in trace.COUNTERS}
