"""Spans around the program's layer calls, with Spark counters per span.

A span records name, start, end and parent, and runs its calls in a Spark
job group of its own.  After a pass, outside the timed region, the jobs of
each group are looked up in the status tracker and their stages in the
status store, which gives jobs, tasks, executor CPU time and shuffle bytes
per span.  Spans stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "shuffle_write_bytes", "executor_cpu_s")
LISTENER_WAIT_MS = 30_000


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_cpu_s: float = 0.0


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing
    and leaves the job group alone."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        span = Span(sid, name, parent.id if parent else None, f"perfbench-{sid}")
        self._set_group(span)
        self._stack.append(span)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(span)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    def read_counters(self, spans: list[Span]) -> None:
        """Fill each span's counters from its job group.  A stage that a
        later job reuses is counted once, in the span that ran it first."""
        # the status store is filled from the listener bus, asynchronously:
        # let it deliver the last job's end events first
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for span in spans:
            job_ids = sorted(tracker.getJobIdsForGroup(span.group))
            span.jobs = len(job_ids)
            for job_id in job_ids:
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    if stage_id in self._seen_stages:
                        continue
                    self._seen_stages.add(stage_id)
                    try:
                        stage = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:
                        continue
                    span.tasks += stage.numCompleteTasks()
                    span.shuffle_write_bytes += stage.shuffleWriteBytes()
                    span.executor_cpu_s += stage.executorCpuTime() / 1e9

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the time its child spans cover.  Spans of
    one thread nest without overlap, so the children's durations add up."""
    own = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in own:
            own[s.parent] -= s.end - s.start
    return own


def per_span_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Sum self time and counters over the spans of each name."""
    own = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = out.setdefault(s.name, {"self_s": 0.0, **{c: 0 for c in COUNTERS}})
        acc["self_s"] += own[s.id]
        for c in COUNTERS:
            acc[c] += getattr(s, c)
    return out
