"""Aggregate a Spark event log into per-window execution metrics.

The traced run turns on Spark's event log.  Each window is a named interval
of the run in epoch milliseconds (one catalog entry, or the live window); a
job belongs to the window holding its submission time and a task to the
window holding its launch time.  Time at the Python/Arrow boundary comes from
the SQL metrics of plan nodes that run Python workers: the plan events name
the accumulators, the task-end events carry their per-task updates.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Iterator

MB = 1024 * 1024
PY_TIME = "time to run Python workers"
PY_ROWS = "number of output rows"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

FIELDS = (
    "jobs", "tasks", "task_s", "task_cpu_s", "gc_s", "sched_delay_s",
    "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "python_s", "python_rows",
)


def read_events(path: str) -> Iterator[dict]:
    """Events of one application's log: a single file, or a rolling-log
    directory (``eventlog_v2_<app>``) of ``events_<n>_<app>`` files."""
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Map accumulator id -> "time_ns"/"time_ms"/"rows" for every plan node
    that reports Python worker time."""
    metrics = {m["name"]: m for m in plan.get("metrics", [])}
    if PY_TIME in metrics:
        m = metrics[PY_TIME]
        out[m["accumulatorId"]] = "time_ns" if m.get("metricType") == "nsTiming" else "time_ms"
        if PY_ROWS in metrics:
            out[metrics[PY_ROWS]["accumulatorId"]] = "rows"
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _window(windows: list[tuple[str, float, float]], t: float) -> str | None:
    for name, lo, hi in windows:
        if lo <= t <= hi:
            return name
    return None


def aggregate(events: Iterable[dict], windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Sum execution metrics of the jobs and tasks that fall in each window."""
    out = {name: dict.fromkeys(FIELDS, 0.0) for name, _, _ in windows}
    py_acc: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind in (SQL_START, SQL_UPDATE) and "sparkPlanInfo" in ev:
            _python_accumulators(ev["sparkPlanInfo"], py_acc)
        elif kind == "SparkListenerJobStart":
            w = _window(windows, ev.get("Submission Time", 0))
            if w is not None:
                out[w]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            w = _window(windows, info.get("Launch Time", 0))
            if w is None:
                continue
            m, agg = ev.get("Task Metrics") or {}, out[w]
            run_ms = m.get("Executor Run Time", 0)
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            fetch = info.get("Getting Result Time", 0)
            getting = info.get("Finish Time", 0) - fetch if fetch else 0
            agg["tasks"] += 1
            agg["task_s"] += run_ms / 1000
            agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1000
            agg["sched_delay_s"] += max(
                0,
                duration - run_ms - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0) - getting,
            ) / 1000
            agg["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            agg["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            for acc in info.get("Accumulables", []):
                kind_ = py_acc.get(acc.get("ID"))
                if kind_ is None or acc.get("Update") is None:
                    continue
                v = float(acc["Update"])
                if kind_ == "rows":
                    agg["python_rows"] += v
                else:
                    agg["python_s"] += v / (1e9 if kind_ == "time_ns" else 1000)
    return out
