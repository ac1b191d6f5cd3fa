"""Fold a Spark event log into one per-layer row per job group.

Stdlib `json` only. Reads the plain (uncompressed) event log a session
writes with `spark.eventLog.enabled=true`, `spark.eventLog.compress=false`
-- a single file, or Spark 4's rolling `eventlog_v2_*` directory of
`events_<n>_*` files -- and folds `SparkListenerJobStart`/`JobEnd`/
`StageCompleted`/`TaskEnd` plus the tasks' SQL accumulables into rows
keyed by the `spark.jobGroup.id` the benchmark set around each timed
call. Jobs submitted outside any group land under the key `None`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_MB = 1024.0 * 1024.0

# SQL metric names of the Python-worker operators (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...), summed over tasks
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupRow:
    """Spark counters of every job submitted under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    scheduler_delay_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    python_mb_sent: float = 0.0
    python_mb_returned: float = 0.0
    # (submission, completion) of each job, epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def log_files(path: str) -> list[str]:
    """The event-log files under `path`, in write order."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith("events_") or name.startswith("local-"):
                files.append(os.path.join(root, name))

    def order(p: str) -> tuple[str, int]:
        parts = os.path.basename(p).split("_")
        index = int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0
        return os.path.dirname(p), index

    return sorted(files, key=order)


def _task_row(row: GroupRow, ev: dict) -> None:
    info = ev.get("Task Info", {})
    metrics = ev.get("Task Metrics") or {}
    row.tasks += 1
    run_ms = metrics.get("Executor Run Time", 0)
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    # the Spark UI's definition of a task's scheduler delay
    overhead_ms = (
        run_ms
        + metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    row.scheduler_delay_s += max(0, duration_ms - overhead_ms) / 1000.0
    row.executor_run_s += run_ms / 1000.0
    row.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
    row.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
    write = metrics.get("Shuffle Write Metrics", {})
    read = metrics.get("Shuffle Read Metrics", {})
    row.shuffle_write_mb += write.get("Shuffle Bytes Written", 0) / _MB
    row.shuffle_read_mb += (read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)) / _MB
    row.spill_mb += metrics.get("Disk Bytes Spilled", 0) / _MB
    row.peak_exec_mem_mb = max(row.peak_exec_mem_mb, metrics.get("Peak Execution Memory", 0) / _MB)
    row.input_mb += metrics.get("Input Metrics", {}).get("Bytes Read", 0) / _MB
    row.output_mb += metrics.get("Output Metrics", {}).get("Bytes Written", 0) / _MB
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == _PY_SENT:
            row.python_mb_sent += int(acc.get("Update", 0)) / _MB
        elif name == _PY_RETURNED:
            row.python_mb_returned += int(acc.get("Update", 0)) / _MB


def fold(path: str) -> dict[str | None, GroupRow]:
    """Job group id -> its folded Spark counters."""
    rows: dict[str | None, GroupRow] = {}
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    for fname in log_files(path):
        with open(fname) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_id = ev["Job ID"]
                    job_group[job_id] = group
                    job_start[job_id] = ev.get("Submission Time", 0) / 1000.0
                    for stage_id in ev.get("Stage IDs", []):
                        stage_group.setdefault(stage_id, group)
                    rows.setdefault(group, GroupRow()).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    job_id = ev["Job ID"]
                    row = rows.setdefault(job_group.get(job_id), GroupRow())
                    row.job_intervals.append((job_start.get(job_id, 0.0), ev.get("Completion Time", 0) / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    stage_id = ev["Stage Info"]["Stage ID"]
                    rows.setdefault(stage_group.get(stage_id), GroupRow()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    _task_row(rows.setdefault(stage_group.get(ev["Stage ID"]), GroupRow()), ev)
    return rows


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
