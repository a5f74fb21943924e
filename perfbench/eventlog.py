"""Read Spark's own event log for the traced pass of a run.

The traced run enables the event log from a conf the benchmark passes at
JVM launch (``run.py``); nothing in the package is configured for it. After
the session stops, this module sums the events that belong to jobs
submitted inside the traced pass's wall-clock window:

- ``exec.*``: jobs, stages, tasks and the task metrics Spark records;
- ``python.*``: the SQL metrics of Python exec nodes (ArrowEvalPython,
  MapInPandas, FlatMapGroupsInPandas, TransformWithStateInPySpark, ...);
- ``streaming.*``: the ``QueryProgressEvent`` records that Spark's
  StreamingQueryListener bus writes into the same log.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from datetime import datetime

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
ROWS_OUT = "number of output rows"

_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The event log of one application, plain or rolling, in write order."""
    plain = [p for p in (os.path.join(log_dir, app_id),
                         os.path.join(log_dir, app_id + ".inprogress"))
             if os.path.isfile(p)]
    if plain:
        return plain
    parts = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _python_metric_ids(plan: dict, ids: dict[str, set[int]]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics:
        for name in (PY_SENT, PY_RECEIVED, PY_RUN, ROWS_OUT):
            if name in metrics:
                ids[name].add(metrics[name])
    for child in plan.get("children", []):
        _python_metric_ids(child, ids)


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def summarize(paths: list[str], t0_ms: float, t1_ms: float) -> dict[str, float]:
    job_start: dict[int, int] = {}
    job_end: dict[int, int] = {}
    window_stages: set[int] = set()
    stages_done = 0
    tasks = 0
    cpu_ns = gc_ms = 0
    shuffle_w = shuffle_r = spill = 0
    py_ids: dict[str, set[int]] = defaultdict(set)
    task_accums: list[tuple[int, float]] = []
    progress: list[dict] = []

    for e in _events(paths):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if t0_ms <= e["Submission Time"] <= t1_ms:
                job_start[e["Job ID"]] = e["Submission Time"]
                window_stages.update(e["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages_done += e["Stage Info"]["Stage ID"] in window_stages
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] not in window_stages:
                continue
            tasks += 1
            m = e.get("Task Metrics") or {}
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            shuffle_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                # SQL metric updates are logged as strings, internal ones as numbers
                try:
                    task_accums.append((acc["ID"], float(acc["Update"])))
                except (KeyError, TypeError, ValueError):
                    continue
        elif kind in _SQL_PLAN_EVENTS:
            _python_metric_ids(e["sparkPlanInfo"], py_ids)
        elif kind == _PROGRESS:
            p = e["progress"]
            if t0_ms <= _epoch_ms(p["timestamp"]) <= t1_ms:
                progress.append(p)

    def py_sum(name: str) -> float:
        ids = py_ids[name]
        return sum(u for i, u in task_accums if i in ids)

    last_state_rows: dict[str, int] = {}
    for p in progress:
        last_state_rows[p["runId"]] = sum(
            op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))

    def phase(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1000.0

    intervals = [(s, job_end.get(j, s)) for j, s in job_start.items()]
    return {
        "exec.run_s": _union_seconds(intervals),
        "exec.jobs": len(job_start),
        "exec.stages": stages_done,
        "exec.tasks": tasks,
        "exec.shuffle_write_bytes": shuffle_w,
        "exec.shuffle_read_bytes": shuffle_r,
        "exec.spill_bytes": spill,
        "exec.task_cpu_s": cpu_ns / 1e9,
        "exec.gc_s": gc_ms / 1000.0,
        "python.rows_received": py_sum(ROWS_OUT),
        "python.bytes_sent": py_sum(PY_SENT),
        "python.bytes_received": py_sum(PY_RECEIVED),
        "python.worker_s": py_sum(PY_RUN) / 1000.0,
        "streaming.batches": len(progress),
        "streaming.trigger_s": phase("triggerExecution"),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.query_planning_s": phase("queryPlanning"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.state_rows": sum(last_state_rows.values()),
    }
