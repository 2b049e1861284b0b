"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files around its calls into
the engine's public functions; nothing inside the engine is patched
except the py4j client's `send_command`, which `Py4jCounter` wraps to
count gateway commands. Spark work is attributed to spans through
`SparkContext.setJobGroup`, so job, stage and task counts come from
`statusTracker()` and per-task metrics from the event log
(`eventlog.py`).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str
    span_id: int
    group: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; `write` dumps the spans as JSON lines.

    A disabled tracer still times its spans (the untraced run needs the
    durations) but sets no job group."""

    def __init__(self, sc=None, enabled: bool = True) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, request: str = "", job_group: bool = False):
        """Record one span; with `job_group`, Spark jobs started inside it
        carry a fresh job group id stored on the span."""
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = None
        if job_group and self.enabled and self.sc is not None:
            self._groups += 1
            group = f"pb-{self._groups}"
            self.sc.setJobGroup(group, name)
        s = Span(name, time.perf_counter(), 0.0, parent, request, sid, group)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": self_time(self.spans, s)}))
                fh.write("\n")


def self_time(spans: list[Span], span: Span) -> float:
    """Span duration minus the part of its interval its children cover
    (children may overlap each other; covered time is their union)."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.span_id
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


#: py4j's "release this Java object" command, sent whenever Python's GC
#: collects a proxy; its timing follows the GC, not the code priced
_GC_COMMAND = "m\nd\n"


class Py4jCounter:
    """Counts py4j gateway commands by wrapping the client's
    `send_command` (traced runs only), leaving out the object releases
    Python's GC sends at unrepeatable times. `count` is cumulative;
    callers take differences around the code they price."""

    def __init__(self, sc) -> None:
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self.count = 0
        self.reopen()

    def reopen(self) -> None:
        def counted(command, *args, **kwargs):
            if not command.startswith(_GC_COMMAND):
                with self._lock:
                    self.count += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig


def group_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group, from statusTracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks
