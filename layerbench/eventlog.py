"""Per-stage statistics from Spark's JSON event log.

The traced run turns the event log on (uncompressed, one file, see
`run.py`). This module reads it with stdlib `json` and folds task
metrics and stage-active intervals onto the benchmark's job groups,
which name the pass and the op each Spark job ran for.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
MB = 1024.0 * 1024.0


@dataclass
class GroupStats:
    """Sums over every task and stage that ran under one job group."""

    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)  # epoch s


def _add_task(g: GroupStats, m: dict) -> None:
    g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
    g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics", {})
    g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    g.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
    g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    g.input_mb += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    g.output_mb += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB


def read_groups(log_dir: str) -> dict[str, GroupStats]:
    """Job group id -> stats, over every event log file in `log_dir`."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get(GROUP_PROP)
                    if gid:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid and ev.get("Task Metrics"):
                        _add_task(groups[gid], ev["Task Metrics"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    gid = stage_group.get(info.get("Stage ID"))
                    start, end = info.get("Submission Time"), info.get("Completion Time")
                    if gid and start and end:
                        groups[gid].intervals.append((start / 1e3, end / 1e3))
    return dict(groups)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
