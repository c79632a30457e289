"""Spark event-log parser for the traced run.

Spark writes one JSON object per line (``spark.eventLog.enabled``, with
``spark.eventLog.compress=false``; Spark 4 rolls the log into an
``eventlog_v2_*`` directory).  Each op of the benchmark is a wall-clock
window ``[start, end]``; an event belongs to the op whose window holds
its timestamp.  Attribution is by time, not by job group or tag,
because the engine runs work on its own threads (the model scheduler's
thread pool, streaming query threads) where the caller's job group
does not reach.  The benchmark runs one op at a time, so windows never
overlap.
"""

from __future__ import annotations

import bisect
import glob
import json
import os

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"

# per-op counters filled from the log; all start at zero
COUNTERS = (
    "sql_executions",
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def read_events(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``, in file order."""
    files = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    events = []
    for path in files:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


class _Windows:
    """Maps an epoch-millisecond timestamp to the index of its op."""

    def __init__(self, windows: list[tuple[float, float]]) -> None:
        self.starts = [s * 1000.0 for s, _ in windows]
        self.ends = [e * 1000.0 for _, e in windows]

    def find(self, t_ms: float) -> int | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.ends[i]:
            return i
        return None


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(events: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Per-op counters plus ``driver_gap_s``: the part of the op's wall
    time during which no Spark job was running."""
    ops = [dict.fromkeys(COUNTERS, 0) for _ in windows]
    win = _Windows(windows)
    job_start: dict[int, float] = {}
    job_spans: list[list[tuple[float, float]]] = [[] for _ in windows]

    for ev in events:
        kind = ev.get("Event")
        if kind == _SQL_START:
            i = win.find(ev["time"])
            if i is not None:
                ops[i]["sql_executions"] += 1
        elif kind == "SparkListenerJobStart":
            job_start[ev["Job ID"]] = ev["Submission Time"]
            i = win.find(ev["Submission Time"])
            if i is not None:
                ops[i]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            start = job_start.pop(ev["Job ID"], None)
            if start is None:
                continue
            end = ev["Completion Time"]
            for i, (ws, we) in enumerate(zip(win.starts, win.ends)):
                lo, hi = max(start, ws), min(end, we)
                if lo < hi:
                    job_spans[i].append((lo, hi))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            i = win.find(info.get("Completion Time") or info.get("Submission Time") or 0)
            if i is not None:
                ops[i]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            i = win.find(info["Finish Time"])
            if i is None:
                continue
            op = ops[i]
            op["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                op["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            op["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            op["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            op["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            op["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            op["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            op["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            op["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )

    for op, (ws, we), spans in zip(ops, windows, job_spans):
        op["driver_gap_s"] = max(0.0, (we - ws) - _union_length(spans) / 1e3)
    return ops
