"""Span tracer for the traced benchmark run.

The tracer wraps public entry points of the program from outside (it
patches module and class attributes; the program's code is unchanged).
Each wrapped call becomes a span with its own Spark job group, so the
status tracker attributes every job, stage and task to the innermost
span that was open when the job started. Spans stay in memory; job
lookups happen once, after the measured loop, and ``dump`` writes them
out when the run ends.

Time the tracer spends on its own bookkeeping (job-group calls, file
listings and footer reads for the ratios) is kept outside the spans
and reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    jobs: list = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    stage_ids: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in memory, one Spark job group per span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.overhead: dict[int | None, float] = {}
        self._patches: list[tuple[object, str, object]] = []

    def _book(self, t0: float) -> None:
        self.overhead[self.op] = self.overhead.get(self.op, 0.0) + time.perf_counter() - t0

    def _set_group(self, idx: int | None) -> None:
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{idx}", self.spans[idx].name)

    @contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, layer, self.op, parent)
        self.spans.append(sp)
        self.stack.append(idx)
        self._set_group(idx)
        self._book(t0)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._set_group(parent)
            self._book(sp.end)

    def wrap(self, owner, attr: str, name: str, layer: str, *, pre=None, post=None):
        """Replace ``owner.attr`` with a traced call. ``pre(args, kwargs)``
        runs before the span opens and its return value is handed to
        ``post(span, args, kwargs, result, state)``, which runs after the
        span closes; both count as tracer overhead. A missing entry point
        raises, so a renamed or removed one fails the traced run instead of
        reading as zero cost."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            state = None
            if pre is not None:
                t0 = time.perf_counter()
                state = pre(args, kwargs)
                tracer._book(t0)
            with tracer.span(name, layer) as sp:
                result = orig(*args, **kwargs)
            if post is not None:
                t0 = time.perf_counter()
                post(sp, args, kwargs, result, state)
                tracer._book(t0)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def resolve_jobs(self) -> None:
        """Attribute jobs, stages and completed tasks to every span (call
        once, after the measured loop: the lookups are py4j round trips)."""
        st = self.sc.statusTracker()
        for idx, sp in enumerate(self.spans):
            sp.jobs = sorted(st.getJobIdsForGroup(f"perfbench-{idx}"))
            stage_ids = []
            for j in sp.jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.extend(info.stageIds)
            for s in stage_ids:
                info = st.getStageInfo(s)
                if info is not None and info.numCompletedTasks > 0:
                    sp.stage_ids.append(s)
                    sp.tasks += info.numCompletedTasks
            sp.stages = len(sp.stage_ids)

    def dump(self, path: str, t0: float) -> None:
        """Write every span (times relative to ``t0``) as JSON lines."""
        with open(path, "w") as f:
            for idx, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": idx, "name": sp.name, "layer": sp.layer, "op": sp.op,
                    "parent": sp.parent, "start": sp.start - t0, "end": sp.end - t0,
                    "jobs": len(sp.jobs), "stages": sp.stages, "tasks": sp.tasks,
                    **sp.extra}) + "\n")

    # -- aggregation ----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        out = [sp.dur for sp in self.spans]
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent] -= sp.dur
        return out

    def inclusive(self, value) -> list[float]:
        """``value(span)`` summed over each span and all its descendants."""
        out = [value(sp) for sp in self.spans]
        for idx in range(len(self.spans) - 1, -1, -1):  # children follow parents
            parent = self.spans[idx].parent
            if parent is not None:
                out[parent] += out[idx]
        return out

    def in_ops(self, ops) -> list[tuple[int, Span]]:
        ops = set(ops)
        return [(i, s) for i, s in enumerate(self.spans) if s.op in ops]

    def per_op(self, ops, value, name: str | None = None, layer: str | None = None
               ) -> list[float]:
        """Per measured op, the sum of ``value(idx, span)`` over its spans
        matching ``name`` / ``layer``."""
        out = {op: 0.0 for op in ops}
        for i, s in self.in_ops(ops):
            if (name is None or s.name == name) and (layer is None or s.layer == layer):
                out[s.op] += value(i, s)
        return [out[op] for op in ops]
