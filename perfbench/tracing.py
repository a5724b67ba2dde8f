"""Spans around the benchmark's calls into the engine's layers.

A span is (name, start, end, parent, op id). Spans are kept in memory
and written out once, at the end of a traced run. With tracing off the
tracer records nothing, so the untraced run pays one attribute test per
call site.

Spark work is counted per operation: each op runs under its own job
group, and the status tracker then gives its jobs, stages and tasks.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def median(self, name: str) -> float | None:
        d = self.durations(name)
        return statistics.median(d) if d else None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__, "self_s": self_time(self.spans, i)}) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of it its children cover."""
    s = spans[idx]
    kids = [
        (max(c.start, s.start), min(c.end, s.end))
        for c in spans
        if c.parent == idx and c.end > s.start and c.start < s.end
    ]
    return (s.end - s.start) - covered(kids)


@dataclass
class SparkWork:
    jobs: int
    stages: int
    tasks: int


class JobCounter:
    """Counts the Spark jobs, stages and tasks of one operation through
    a per-op job group and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        box: list[SparkWork] = []
        try:
            yield box
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            box.append(self.count(gid))

    def count(self, gid: str) -> SparkWork:
        st = self.sc.statusTracker()
        stages = tasks = 0
        jobs = st.getJobIdsForGroup(gid)
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                # a stage whose output a shuffle already holds is
                # skipped: it is listed but launches no task
                if si is not None and si.numTasks and si.numCompletedTasks + si.numFailedTasks:
                    stages += 1
                    tasks += si.numCompletedTasks + si.numFailedTasks
        return SparkWork(len(jobs), stages, tasks)
