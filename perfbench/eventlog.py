"""Per-layer task counters from a Spark event log.

The traced run tags every Spark job with ``setJobGroup(<layer>)``.  This
module maps each stage to the job group of the first job that lists it
and sums the task counters of that stage into the group:

- ``task_cpu_s``: executor CPU time of the tasks (busy time);
- ``shuffle_write_mb``: shuffle bytes written;
- ``spill_mb``: memory plus disk bytes spilled;
- ``gc_s``: JVM garbage-collection time;
- ``failed_tasks``: tasks that ended with any reason other than Success.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

COUNTERS = ("task_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s", "failed_tasks")
MB = 1024.0 * 1024.0


def _zero() -> dict[str, float]:
    return {c: 0.0 for c in COUNTERS}


def parse_events(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Event-log lines (JSON, one event each) → {job group: counters}.
    Tasks of stages whose job carries no group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            acc = out.setdefault(group, _zero())
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                acc["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            acc["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            acc["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / MB
            sw = tm.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    return out


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: single-file logs and the
    ``events_*`` parts of rolling (``eventlog_v2_*``) logs."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for name in sorted(names):
            if name.startswith("appstatus_") or name.endswith(".crc"):
                continue
            files.append(os.path.join(root, name))
    return sorted(files)


def parse_dir(log_dir: str) -> dict[str, dict[str, float]]:
    """Counters per job group over every event file in ``log_dir``, read
    as one stream: a rolling log may start a job in one file and end its
    tasks in the next."""

    def lines():
        for path in event_files(log_dir):
            with open(path) as f:
                yield from f

    return parse_events(lines())
