"""Spans and counters for the traced benchmark run.

The tracer patches public functions and methods of the package from
the outside (module attributes and class attributes), records one span
per call — name, start, end, parent span, op id — and keeps everything
in memory until the run ends. Nothing inside the package changes.

It also counts Spark jobs, stages and tasks per op through job groups
and the public ``statusTracker()``, and times its own bookkeeping. That
figure leaves out the slowdown the wrappers and job-group calls cause in
the measured code; the full cost of tracing is ``trace.op_p50_s`` of a
traced run minus ``op_p50_s`` of the untraced run of the same seed.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


def layer_of(name: str) -> str:
    """Span name -> layer: drop the function (and class) part."""
    parts = name.split(".")
    if parts[0] == "plans":
        return "plans"
    if parts[0] in ("warehouse", "streaming"):
        return ".".join(parts[:2])
    return parts[0]


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: str | None = None
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, 0.0, 0.0, parent, self.op))
        self._stack.append(sid)
        start = time.perf_counter()
        self.bookkeeping_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            s = self.spans[sid]
            s.start, s.end = start, end
            self.bookkeeping_s += time.perf_counter() - end

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace `owner.attr` with a wrapper that records a span named
        `name`; the original is put back by `restore()`. Every module of
        the package that imported the same function object by name is
        patched too, so calls through those aliases are seen."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        targets = [owner]
        if not isinstance(owner, type):
            root = owner.__name__.split(".")[0]
            targets += [
                m
                for key, m in list(sys.modules.items())
                if m is not None
                and m is not owner
                and key.split(".")[0] == root
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._undo.append((t, attr, orig))
            setattr(t, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- summaries ------------------------------------------------------
    def timed_spans(self, ops: set[str]) -> list[Span]:
        return [s for s in self.spans if s.op in ops]

    def total_s(self, ops: set[str], name: str) -> float:
        return sum(s.end - s.start for s in self.timed_spans(ops) if s.name == name)

    def count(self, ops: set[str], name: str) -> int:
        return sum(1 for s in self.timed_spans(ops) if s.name == name)

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Layer -> busy time not covered by its spans' child spans."""
        spans = self.timed_spans(ops)
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered, edge = 0.0, s.start
            for c in sorted(children[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[layer_of(s.name)] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class JobCounter:
    """Spark jobs / stages / tasks per op via job groups."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.tracer = tracer
        self.totals: Counter[str] = Counter()

    def begin(self, op: str) -> None:
        t = time.perf_counter()
        self.sc.setJobGroup(op, op)
        self.tracer.bookkeeping_s += time.perf_counter() - t

    def collect(self, groups: list[str]) -> None:
        """Add the jobs of `groups` (the op's own group plus the run ids
        of streaming queries it started) to the totals."""
        t = time.perf_counter()
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                job = self.tracker.getJobInfo(jid)
                self.totals["jobs"] += 1
                for sid in job.stageIds if job else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        self.totals["stages"] += 1
                        self.totals["tasks"] += st.numCompletedTasks
        self.tracer.bookkeeping_s += time.perf_counter() - t
