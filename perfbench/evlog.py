"""Read Spark's own event log into jobs, per-job task totals and
streaming progress, for the traced run's per-layer metrics."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


@dataclass
class Job:
    id: int
    start: float  # epoch seconds
    end: float
    stages: list[int]
    totals: dict[str, float] = field(default_factory=dict)


def _tree_python_accums(node: dict, rows: set, nbytes: set) -> None:
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if _PY_SENT in names:
        nbytes.add(names[_PY_SENT])
        if _PY_BACK in names:
            nbytes.add(names[_PY_BACK])
        if "number of output rows" in names:
            rows.add(names["number of output rows"])
    for child in node.get("children", []):
        _tree_python_accums(child, rows, nbytes)


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def read(log_dir: str) -> tuple[list[Job], list[dict], list[float]]:
    """Jobs (with summed task metrics of their stages), streaming progress
    records and the epoch-second start of every SQL execution, from the
    single event log in ``log_dir``.  Spark posts an execution's start
    once its physical plan is built, so the start marks the end of
    planning."""
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    path = os.path.join(log_dir, logs[0])
    if os.path.isdir(path):  # a rolling log: events_<n>_<app id> parts
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    jobs: dict[int, Job] = {}
    stage_tot: dict[int, dict[str, float]] = {}
    stage_acc: dict[int, dict[int, float]] = {}
    py_rows: set[int] = set()
    py_bytes: set[int] = set()
    progress: list[dict] = []
    sql_starts: list[float] = []
    for line in _lines(files):
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"] / 1000.0, 0.0, list(e["Stage IDs"]))
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = stage_tot.setdefault(e["Stage ID"], {})
            sr = m.get("Shuffle Read Metrics", {})
            inp = m.get("Input Metrics", {})
            for k, v in (
                ("tasks", 1),
                ("task_run_s", m.get("Executor Run Time", 0) / 1e3),
                ("task_cpu_s", m.get("Executor CPU Time", 0) / 1e9),
                ("gc_s", m.get("JVM GC Time", 0) / 1e3),
                ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
                ("shuffle_write_bytes", m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)),
                ("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
                ("input_rows", inp.get("Records Read", 0)),
                ("input_bytes", inp.get("Bytes Read", 0)),
            ):
                t[k] = t.get(k, 0) + v
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = stage_acc.setdefault(info["Stage ID"], {})
            for a in info.get("Accumulables", []):
                try:
                    acc[a["ID"]] = float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    pass  # a non-numeric accumulator
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _tree_python_accums(e.get("sparkPlanInfo", {}), py_rows, py_bytes)
            if ev.endswith("Start"):
                sql_starts.append(e["time"] / 1000.0)
        elif ev == _PROGRESS:
            progress.append(e["progress"])
    owned: set[int] = set()
    for j in sorted(jobs.values(), key=lambda j: j.id):
        tot: dict[str, float] = {}
        # a stage a later job reuses shows there as skipped; its tasks
        # belong to the first job that lists it
        mine = [s for s in j.stages if s not in owned]
        owned.update(mine)
        for s in mine:
            for k, v in stage_tot.get(s, {}).items():
                tot[k] = tot.get(k, 0) + v
            acc = stage_acc.get(s, {})
            tot["python_rows"] = tot.get("python_rows", 0) + sum(acc.get(i, 0) for i in py_rows)
            tot["python_bytes"] = tot.get("python_bytes", 0) + sum(acc.get(i, 0) for i in py_bytes)
        tot["stages"] = sum(1 for s in mine if s in stage_tot)
        j.totals = tot
    return sorted(jobs.values(), key=lambda j: j.start), progress, sql_starts
