"""Spans and Spark counts recorded from outside the engine's public calls.

A span is ``(id, name, start, end, parent, op)``: the benchmark opens one
around each call into a layer, nested spans name their caller as parent,
and every span of one operation shares its ``op`` id. Spans stay in
memory and are written out once, when the run ends.

Spark's own counts come from job groups: each span runs the Spark jobs it
launches under a job group of its own, and ``statusTracker`` then lists
the jobs, and through them the stages and tasks, that the span launched.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects the spans of one client thread; with a SparkContext, each
    span also runs its Spark jobs under a job group of its own, so Spark's
    counts are taken at the same boundaries as the spans."""

    enabled = True

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def _group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-span{sid}", "perfbench")

    @contextmanager
    def span(self, name: str, op: int):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._group(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            self.spans.append(Span(sid, name, start, end, parent, op))

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def spark_counts(self, names: set[str] | None = None) -> dict[int, "SparkCounts"]:
        """Per operation, Spark's counts summed over the spans in ``names``
        (all spans when None). A job counts once: under its innermost span."""
        out: dict[int, SparkCounts] = {}
        for s in self.spans:
            if names is None or s.name in names:
                c = job_group_counts(self.sc, f"perfbench-span{s.id}")
                acc = out.setdefault(s.op, SparkCounts())
                acc.jobs += c.jobs
                acc.tasks += c.tasks
                acc.tasks_failed += c.tasks_failed
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer(Tracer):
    """Untraced runs: the same call sites, no recording."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: int):
        yield


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class SparkCounts:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0


def job_group_counts(sc, group: str) -> SparkCounts:
    """Jobs, completed tasks and failed tasks launched under ``group``."""
    st = sc.statusTracker()
    out = SparkCounts()
    for jid in st.getJobIdsForGroup(group):
        out.jobs += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage is not None:
                out.tasks += stage.numCompletedTasks
                out.tasks_failed += stage.numFailedTasks
    return out
