"""Sum task metrics from a Spark event log, per job group.

The traced run enables Spark's event log into a directory the bench owns.
Jobs carry the job group the bench set (``spark.jobGroup.id`` in the
``SparkListenerJobStart`` properties); a task belongs to a group when its
stage was submitted by one of the group's jobs.
"""

from __future__ import annotations

import json
import os

METRIC_UNITS = {
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "input_records": "count",
    "jobs": "count",
}


def event_files(event_dir: str) -> list[str]:
    """Event-log files under ``event_dir``, oldest first (plain or rolling
    layout; checksum and status files skipped)."""
    out = []
    for root, _dirs, files in os.walk(event_dir):
        for f in files:
            if not f.startswith((".", "appstatus")):
                out.append(os.path.join(root, f))
    return sorted(out, key=os.path.getmtime)


def summarize(lines, group: str) -> dict[str, float]:
    """Totals over the tasks of ``group``'s jobs."""
    totals = dict.fromkeys(METRIC_UNITS, 0.0)
    stages: set[int] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") == group:
                totals["jobs"] += 1
                stages.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
            m = ev.get("Task Metrics") or {}
            totals["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            totals["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            totals["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            # records, not bytes: Spark's parquet reader reports only the
            # footer reads as Bytes Read on a local file system
            totals["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return totals


def read_events(event_dir: str) -> list[str]:
    lines: list[str] = []
    for path in event_files(event_dir):
        with open(path) as f:
            lines.extend(f)
    return lines
