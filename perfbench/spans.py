"""Spans around the program's public calls, kept in memory.

A span has a name, start, end, parent span and the id of the operation it
belongs to (one backfill, cycle or pass). Spans are recorded only by
wrapping public entry points from the benchmark's side (``Tracer.wrap``);
the program itself is not instrumented.

While a span is open its Spark jobs run under a job group of their own. At
span exit the group's jobs, stages and tasks are read back through the
status tracker (which works with the UI off), so each span knows the Spark
work it launched itself; ``Span.jobs`` etc. include its children.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: dict[int, Span]) -> float:
    """The span's duration minus the part of its interval that its child
    spans cover (children may overlap each other; the union counts once)."""
    intervals = sorted(
        (max(spans[c].start, span.start), min(spans[c].end, span.end))
        for c in span.children)
    covered = 0.0
    cur_start = cur_end = None
    for s, e in intervals:
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class Tracer:
    def __init__(self, spark=None, clock=time.perf_counter):
        self.sc = spark.sparkContext if spark is not None else None
        self.clock = clock
        self.spans: dict[int, Span] = {}
        self.stack: list[Span] = []
        self.op: str | None = None
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(id=len(self.spans), name=name, start=self.clock(),
                  parent=parent.id if parent else None, op=self.op)
        self.spans[sp.id] = sp
        if parent:
            parent.children.append(sp.id)
        self.stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self.stack.pop()
            self._count_jobs(sp)
            self._set_group(self.stack[-1] if self.stack else None)

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` (an instance or module attribute) by a
        wrapper that records a span around each call. ``annotate(result)``
        returns attributes to keep on the span."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = inner(*args, **kwargs)
                if sp is not None and annotate is not None:
                    sp.attrs.update(annotate(result))
                return result

        setattr(owner, attr, traced)

    # -- Spark job accounting ----------------------------------------------
    def _group(self, sp: Span) -> str:
        return f"perfbench-span-{sp.id}"

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self._group(sp), sp.name)

    def _count_jobs(self, sp: Span) -> None:
        for c in sp.children:
            child = self.spans[c]
            sp.jobs += child.jobs
            sp.stages += child.stages
            sp.tasks += child.tasks
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(sp)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                # a stage skipped because its shuffle output was reused
                # ran no task and is not counted
                ran = (stage.numCompletedTasks + stage.numFailedTasks
                       if stage is not None else 0)
                if ran:
                    sp.stages += 1
                    sp.tasks += ran

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{**asdict(s), "self_s": self_time(s, self.spans)}
                       for s in self.spans.values()], fh)
