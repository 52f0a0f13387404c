"""Spans around the benchmark's calls into each program layer.

A span records name, layer, start, end, parent span and run id. Every span
is timed; with tracing on, a span that runs Spark jobs (`spark=True`) also
wraps the call in its own job group and, when the call returns, counts the
group's jobs, tasks and failed tasks through `SparkContext.statusTracker()`.
Spans stay in memory and are written out once, when the run ends.

Self time of a layer = the duration of its spans minus the part covered by
their child spans. Tracing overhead is measured where it is spent: each span
records the time it took to set its job group and count its jobs.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterator

from py4j.protocol import Py4JError


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    trace_s: float = 0.0  # time spent setting the job group and counting jobs

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one run. With `enabled=False` spans are still
    timed (the benchmark's clock) but no job group is set, no Spark status is
    read and nothing is kept."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.sc = None  # set once a SparkContext exists
        # Calls into program layers (every layer but "bench"), counted with
        # tracing on or off: the base of failed_op_share. A call that raises
        # is not counted here: it aborts the run, which then prints no result.
        self.calls = 0

    @contextmanager
    def span(self, name: str, layer: str, spark: bool = False) -> Iterator[Span]:
        parent = self._stack[-1].id if self._stack else None
        rec = Span(next(self._ids), name, layer, parent, self.run_id, time.perf_counter())
        group = f"{self.run_id}-{rec.id}"
        grouped = self.enabled and spark and self.sc is not None
        if grouped:  # bookkeeping stays outside [start, end], in trace_s
            self.sc.setJobGroup(group, name)
            now = time.perf_counter()
            rec.trace_s, rec.start = now - rec.start, now
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if layer != "bench":
                self.calls += 1
            if grouped:
                self._count_jobs(group, rec)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.trace_s += time.perf_counter() - rec.end
            if self.enabled:
                self.spans.append(rec)

    def _count_jobs(self, group: str, rec: Span) -> None:
        sc = self.sc
        try:  # let the status store see every event of the jobs just run
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # internal API; without it counts may lag
            pass
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            rec.jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    rec.tasks += st.numTasks
                    rec.failed_tasks += st.numFailedTasks

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_seconds(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus its children's."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.seconds
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += s.seconds - child_time[s.id]
    return dict(out)
