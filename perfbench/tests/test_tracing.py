"""Pins the event-log parser and the span arithmetic on synthetic input.

Run with:  python -m pytest perfbench/tests -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.tracing import EventLog, Tracer, job_group, union_length  # noqa: E402


def _task(stage, launch, finish, run_ms, cpu_ns, accums=(), shuffle_read=0, shuffle_write=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [{"ID": i, "Update": str(v)} for i, v in accums],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


def _events():
    plan = {
        "nodeName": "SortMergeJoin",
        "metrics": [{"name": "number of output rows", "accumulatorId": 10}],
        "children": [{
            "nodeName": "FlatMapGroupsInPandas",
            "metrics": [{"name": "data sent to Python workers", "accumulatorId": 20}],
            "children": [{
                "nodeName": "WholeStageCodegen (1)",
                "metrics": [{"name": "duration", "accumulatorId": 30}],
                "children": [{
                    "nodeName": "Filter",
                    "metrics": [{"name": "number of output rows", "accumulatorId": 31}],
                    "children": [],
                }],
            }],
        }],
    }
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op0.exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "op1.exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "runid",
                        "sql.streaming.queryId": "q", "streaming.sql.batchId": "4"}},
        _task(0, 1000, 1100, 90, 50_000_000, [(10, 7), (20, 400), (31, 9)], shuffle_write=64),
        _task(0, 1000, 1300, 280, 150_000_000, [(10, 3)], shuffle_write=36),
        _task(1, 1400, 1500, 100, 10_000_000, shuffle_read=100),
        _task(2, 2000, 2050, 50, 1_000_000),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1300}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1250, "Completion Time": 1500}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 2000, "Completion Time": 2050}},
    ]


def test_event_log_attributes_by_job_group():
    log = EventLog(json.dumps(e) for e in _events())
    s = log.summary(["op0.exec"])
    assert s["jobs"] == 1
    # stage 1 is listed again by job 1 but ran under job 0
    assert s["stages"] == 2 and s["tasks"] == 3
    assert s["run_s"] == 0.47
    assert abs(s["cpu_s"] - 0.21) < 1e-12
    assert s["gc_s"] == 0.015
    assert s["shuffle_write"] == 100 and s["shuffle_read"] == 100
    assert s["stage_union_s"] == 0.5  # [1.0, 1.3] U [1.25, 1.5]
    assert s["skew"] == 300 / 200  # longest stage: max 300 ms over median 200 ms
    assert s["join_rows"] == 10
    assert s["py_bytes"] == 400
    assert s["py_rows"] == 9  # rows of the first child below the Python node

    other = log.summary(["op1.exec"])
    assert (other["jobs"], other["stages"], other["tasks"]) == (1, 1, 1)
    assert log.summary(["nothing"])["jobs"] == 0
    assert log.jobs_of(["op0.exec", "op1.exec"]) == 2
    assert log.jobs_of(["stream:q:4"]) == 1


def test_event_log_from_dir(tmp_path):
    (tmp_path / "local-123").write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    assert EventLog.from_dir(str(tmp_path)).jobs_of(["op0.exec"]) == 1


def test_job_group_prefers_streaming_ids():
    assert job_group({"spark.jobGroup.id": "g"}) == "g"
    assert job_group({"spark.jobGroup.id": "run",
                      "sql.streaming.queryId": "q", "streaming.sql.batchId": "2"}) == "stream:q:2"
    assert job_group({}) is None


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("op", "op0"):
        with tr.span("a", "op0"):
            pass
        with tr.span("b", "op0"):
            pass
    (op, op_self), (a, _), (b, _) = tr.self_times()
    assert op["name"] == "op" and a["parent"] == 0 and b["parent"] == 0
    children = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert abs(op_self - ((op["end"] - op["start"]) - children)) < 1e-9
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []
