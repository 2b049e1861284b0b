"""Stdlib parser for an uncompressed Spark event log (JSON lines).

Rolls task metrics up per job group: jobs, tasks, summed task run time,
GC time, shuffle bytes written, bytes spilled, and the straggler ratio
of the group's slowest stage (longest task over the median task).
Spark 4 compresses event logs with zstd by default; the traced run
passes `spark.eventLog.compress=false` so no codec is needed here.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    #: stage id -> task durations in seconds
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)

    @property
    def straggler_ratio(self) -> float:
        """Longest over median task duration in the slowest stage (the
        stage whose longest task is longest); 1.0 with no tasks."""
        if not self.stage_tasks:
            return 1.0
        worst = max(self.stage_tasks.values(), key=max)
        med = statistics.median(worst)
        return max(worst) / med if med > 0 else 1.0


def find_log(log_dir: str) -> list[str]:
    """The event-log files of the single application logged under
    `log_dir`, in order: Spark 4 writes a directory of rolled
    `events_<n>_<app>` files, older versions one file."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, got {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def parse(paths: list[str]) -> dict[str, GroupStats]:
    """Job-group id -> stats, from the event-log files at `paths`."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            g = groups.setdefault(group, GroupStats())
            g.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = groups[group]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.task_s += m.get("Executor Run Time", 0) / 1000.0
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            g.stage_tasks.setdefault(ev["Stage ID"], []).append(dur)
    return groups


def _lines(paths: list[str]):
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            yield from fh


def merge(stats: list[GroupStats]) -> GroupStats:
    """Sum several groups (e.g. every query of one family)."""
    out = GroupStats()
    for s in stats:
        out.jobs += s.jobs
        out.tasks += s.tasks
        out.task_s += s.task_s
        out.gc_s += s.gc_s
        out.shuffle_bytes += s.shuffle_bytes
        out.spill_bytes += s.spill_bytes
        for sid, d in s.stage_tasks.items():
            out.stage_tasks.setdefault(sid, []).extend(d)
    return out
