"""Spark event-log parsing: attribute jobs and task metrics to the job
group that was set when each job was submitted."""

from __future__ import annotations

import json
from dataclasses import dataclass

MB = 1024 * 1024
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0  # executor run time summed over tasks
    gc_s: float = 0.0  # JVM GC time summed over tasks
    shuffle_mb: float = 0.0  # shuffle bytes written
    spill_mb: float = 0.0  # bytes spilled to disk
    input_mb: float = 0.0  # bytes read from files


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Per-job-group totals from the JSON lines of one event log.

    Jobs submitted without a group are ignored.  A task is attributed to
    the group of the job that submitted its stage."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is None:
                continue
            groups.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if group is None or metrics is None:
                continue
            g = groups.setdefault(group, GroupStats())
            g.task_s += metrics.get("Executor Run Time", 0) / 1000
            g.gc_s += metrics.get("JVM GC Time", 0) / 1000
            g.spill_mb += metrics.get("Disk Bytes Spilled", 0) / MB
            g.shuffle_mb += metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            g.input_mb += metrics.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    return groups


def read_event_log(path: str) -> dict[str, GroupStats]:
    with open(path) as f:
        return parse_event_log(f)
