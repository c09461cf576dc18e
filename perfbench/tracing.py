"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's side only: :meth:`Tracer.wrap`
replaces an engine entry point (``layers.LayerProbe.install`` lists them)
with a wrapper that opens a span around each call, and
:meth:`Tracer.uninstall` puts the originals back. Each span records name, layer, start, end, parent and the
unit (batch or query) it belongs to. Spans that can issue Spark work set
their own Spark job group, so every job is attributed to the innermost
span that started it; job and task counts are read back from
``statusTracker`` once the timed loop is over. Spans stay in memory until
:meth:`dump`.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "layer", "start", "end", "parent", "unit",
                 "group", "child_s", "jobs", "tasks")

    def __init__(self, sid, name, layer, parent, unit, group):
        self.sid, self.name, self.layer = sid, name, layer
        self.parent, self.unit, self.group = parent, unit, group
        self.start = self.end = 0.0
        self.child_s = 0.0
        self.jobs = self.tasks = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.unit = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._undo: list = []

    # ---- spans ----

    @contextmanager
    def span(self, name: str, layer: str, jobs: bool = True):
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, layer,
                 parent.sid if parent else None, self.unit,
                 f"bench-{len(self.spans)}" if jobs else None)
        self.spans.append(s)
        self.stack.append(s)
        if jobs:
            self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child_s += s.wall_s
            if jobs:
                outer = next((p for p in reversed(self.stack) if p.group), None)
                if outer is not None:
                    self.sc.setJobGroup(outer.group, outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - s.end

    def wrap(self, owner, attr: str, name: str, layer: str,
             jobs: bool = True, on_call=None) -> None:
        """Route ``owner.attr`` through a span. ``on_call(span, args,
        kwargs, result)`` records counts at the same boundary."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, layer, jobs) as s:
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig if own else None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # ---- after the run ----

    def resolve_jobs(self, spans) -> None:
        """Fill per-span job/task counts from the status tracker."""
        st = self.sc.statusTracker()
        for s in spans:
            if not s.group:
                continue
            ids = st.getJobIdsForGroup(s.group)
            s.jobs = len(ids)
            for jid in ids:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    s.tasks += stage.numTasks if stage else 0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer,
                    "parent": s.parent, "unit": s.unit,
                    "start": s.start, "end": s.end,
                    "self_ms": s.self_s * 1e3, "jobs": s.jobs,
                    "tasks": s.tasks,
                }) + "\n")
