"""In-memory span recorder for the benchmark's traced run.

A span is ``(id, name, start, end, parent, trace_id)`` plus the Spark
jobs, stages, tasks and failed tasks that ran while it was the innermost
open span. Spans are kept in memory and written once, at exit
(:meth:`Recorder.dump`).

Spark work is attributed from outside the program: entering a span sets
the thread's ``spark.jobGroup.id`` local property to a group of its own,
leaving restores the previous group, and the group's jobs are then read
from ``SparkContext.statusTracker()`` (works with the UI disabled).
Foreach-batch sinks call back into Python on another thread while the
caller blocks, so the open-span stack is shared by all threads of the
one client rather than kept per thread.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    trace_id: int
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """Records spans while ``enabled``; when disabled :meth:`span` costs
    one attribute test. ``sc`` (a SparkContext) is optional: without it
    spans carry timings only.

    A recorder built enabled is in trace mode: :meth:`unit` then switches
    recording on and off per unit of work, so one traced run also times
    untraced units for the tracing-overhead figure."""

    def __init__(self, sc=None, *, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.trace_mode = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_ids = itertools.count(1)
        self._lock = threading.Lock()
        #: seconds spent in the recorder's own bookkeeping
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, *, new_trace: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            trace_id = (
                next(self._trace_ids) if new_trace or parent is None else parent.trace_id
            )
            s = Span(next(self._ids), name, 0.0, parent and parent.id, trace_id, attrs=attrs)
            self._stack.append(s)
            self.spans.append(s)
        prev_group = self._set_group(f"perfbench-{s.id}")
        t1 = time.perf_counter()
        self.bookkeeping_s += t1 - t0
        s.start = t1
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._set_group(prev_group)
            with self._lock:
                self._stack.remove(s)
            self._count_jobs(s)
            self.bookkeeping_s += time.perf_counter() - s.end

    def unit(self, i: int) -> bool:
        """Start unit of work ``i``: in trace mode, record unit 0 (it is
        kept out of the overhead comparison), then units 1, 2, ... in
        the pattern off, on, on, off (repeating), which balances traced
        and untraced units over the run. Returns whether it is
        recorded."""
        if self.trace_mode:
            self.enabled = i == 0 or (i - 1) % 4 in (1, 2)
        return self.enabled

    def _set_group(self, group):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, group)
        return prev

    def _count_jobs(self, s: Span) -> None:
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            s.jobs += 1
            for stage_id in job.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:
                    continue
                s.stages += 1
                s.tasks += stage.numCompletedTasks
                s.failed_tasks += stage.numFailedTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of its interval covered by
    ``children`` (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, span.start), min(c.end, span.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class SpanIndex:
    """Read-side view of recorded spans: children, self time and
    inclusive Spark counts (a span's own jobs plus its descendants')."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        return self_time(s, self.children.get(s.id, []))

    def inclusive(self, s: Span, attr: str) -> int:
        return getattr(s, attr) + sum(self.inclusive(c, attr) for c in self.children.get(s.id, []))

    def descendants(self, s: Span, name: str) -> list[Span]:
        out = []
        for c in self.children.get(s.id, []):
            if c.name == name:
                out.append(c)
            out.extend(self.descendants(c, name))
        return out
