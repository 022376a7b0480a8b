"""Event-log reading: jobs, their task totals, Python-worker SQL metrics,
SQL-execution starts and streaming progress, from a rolling event log
directory."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import evlog  # noqa: E402


def _task(stage, run_ms, cpu_ns, records):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 0,
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
        "Input Metrics": {"Bytes Read": 100, "Records Read": records}}}


def test_read_rolling_log(tmp_path):
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 7},
        {"name": "data returned from Python workers", "accumulatorId": 8},
        {"name": "number of output rows", "accumulatorId": 9}], "children": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan,
         "time": 900},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        _task(0, 200, 1e8, 50), _task(1, 100, 5e7, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": [
            {"ID": 7, "Value": "300"}, {"ID": 8, "Value": 40}, {"ID": 9, "Value": "4"},
            {"ID": 10, "Value": "not a number"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        # job 1 reuses stage 1 (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [1, 2]},
        _task(2, 10, 1e7, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3100},
        {"Event": evlog._PROGRESS, "progress": {"batchId": 0}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[:5]))
    (d / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[5:]))

    jobs, progress, sql_starts = evlog.read(str(tmp_path))
    assert [(j.id, j.start, j.end) for j in jobs] == [(0, 1.0, 2.5), (1, 3.0, 3.1)]
    t0, t1 = jobs[0].totals, jobs[1].totals
    assert (t0["stages"], t0["tasks"], t0["input_rows"]) == (2, 2, 50)
    assert t0["task_run_s"] == pytest.approx(0.3)
    assert t0["task_cpu_s"] == pytest.approx(0.15)
    assert (t0["python_rows"], t0["python_bytes"]) == (4, 340)
    # the reused stage's tasks stay with job 0
    assert (t1["stages"], t1["tasks"], t1["python_rows"]) == (1, 1, 0)
    assert progress == [{"batchId": 0}]
    assert sql_starts == [0.9]
