"""Spans around the calls into each layer, recorded from the benchmark's
own files.

A span has a name, a start and an end, its parent span and a Spark job
group. Each span sets its own job group while it is open, so every Spark
job lands in exactly one span; the status tracker then gives each span
its job and stage counts. Spans stay in memory and are written once,
when the run ends.

``Tracer.patched`` wraps named entry points by replacing module
attributes (``crime_spark_ml_spark.workload.train_crime_model`` and so
on) and restores them on exit. A lazy entry point times only plan
building; the execution it defers is charged to the span of the action
that forces it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. With ``enabled`` false every method is a no-op,
    so the untraced path runs the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._sc = None

    def bind(self, spark) -> None:
        """Track jobs of this session; ``None`` while no session is up."""
        self._sc = spark.sparkContext if spark is not None else None

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.id if parent else None, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._count_jobs(s)

    def _count_jobs(self, s: Span) -> None:
        if self._sc is None:
            return
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
            info = tracker.getJobInfo(jid)
            s.jobs += 1
            s.stages += len(info.stageIds) if info is not None else 0

    @contextlib.contextmanager
    def patched(self, targets: dict[str, str]):
        """``targets`` maps ``"module:attr"`` to a span name; each attribute
        is wrapped in that span for the duration of the block."""
        if not self.enabled:
            yield
            return
        saved = []
        for target, name in targets.items():
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------ reading
    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover (children
        of one span run one after another on the calling thread)."""
        covered = sum(min(c.end, s.end) - max(c.start, s.start) for c in self.children(s))
        return s.dur - covered

    def inclusive(self, s: Span) -> tuple[int, int]:
        """Jobs and stages of ``s`` and everything under it."""
        tree = [s, *self.descendants(s)]
        return sum(t.jobs for t in tree), sum(t.stages for t in tree)

    def within(self, root: Span, name: str) -> list[Span]:
        return [d for d in self.descendants(root) if d.name == name]

    def dump(self, path: str, extra: dict) -> None:
        rows = []
        for s in self.spans:
            jobs, stages = self.inclusive(s)
            rows.append({
                **asdict(s),
                "dur_s": s.dur,
                "self_s": self.self_time(s),
                "jobs_incl": jobs,
                "stages_incl": stages,
            })
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)
