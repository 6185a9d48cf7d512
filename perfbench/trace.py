"""Span tracer for the traced run (`--trace 1`).

Spans are recorded from the benchmark's side of each layer boundary:
`instrument` swaps the public methods of `Engine`, `Timeline` and the
derived-index modules for wrappers that open a span around the call,
and the workloads open spans around the actions that consume a lazy
result (a `collect` of a read, a data-source scan). Nothing inside the
engine is modified; untraced runs never call `instrument`.

Each span records name, layer, start, end, parent and op id, and the
Spark jobs it launched: a span that may run jobs sets its own job
group, so `statusTracker` attributes every job to exactly one span.
A span's self time is its duration minus its children's durations and
minus the tracer's own bookkeeping inside it, so per-layer self times
sum to the traced wall time less the tracer overhead (which is
reported separately).
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    op: int
    group: str | None
    start: float = 0.0
    end: float = 0.0
    excluded: float = 0.0       # tracer bookkeeping inside this span
    child_s: float = 0.0        # summed durations of direct children
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return max(0.0, self.dur - self.child_s - self.excluded)


class Tracer:
    """In-memory span recorder. `active` is off outside the measured
    window (and while the benchmark does untimed checking work), so
    wrapped methods pass straight through then."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.groups: list[str] = []
        self.active = False
        self.op = 0
        self.overhead_s = 0.0
        self._collected = 0

    def _charge(self, dt: float) -> None:
        """Book `dt` seconds of tracer work against every open span."""
        self.overhead_s += dt
        for s in self.stack:
            s.excluded += dt

    @contextmanager
    def span(self, layer: str, name: str, jobs: bool = True):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        s = Span(
            len(self.spans), layer, name,
            parent.id if parent else None, self.op,
            f"perfbench-{len(self.spans)}" if jobs else None,
        )
        self.spans.append(s)
        if jobs:
            self.sc.setJobGroup(s.group, name)
            self.groups.append(s.group)
        self._charge(time.perf_counter() - t0)
        self.stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child_s += s.dur
            if jobs:
                self.groups.pop()
                if self.groups:
                    self.sc.setJobGroup(self.groups[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._charge(time.perf_counter() - s.end)

    @contextmanager
    def paused(self):
        """Untimed benchmark work (checks, counters): no spans, and its
        time is charged to the tracer rather than to open spans."""
        was, self.active = self.active, False
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.active = was
            if was:
                self._charge(time.perf_counter() - t0)

    def next_op(self) -> None:
        self.op += 1

    def collect_jobs(self) -> None:
        """Attribute Spark jobs/tasks to the spans closed since the last
        call (done between ops, while the status store still holds
        them)."""
        st = self.sc.statusTracker()
        for s in self.spans[self._collected:]:
            if s.group is None:
                continue
            for jid in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.tasks += si.numCompletedTasks
                        s.failed_tasks += si.numFailedTasks
        self._collected = len(self.spans)

    def rollup(self) -> dict[str, dict]:
        """Per-layer calls, self seconds, Spark jobs/tasks; a layer's
        `calls` counts its spans opened by wrapped methods and by the
        benchmark's consuming actions alike."""
        out: dict[str, dict] = {}
        for s in self.spans:
            r = out.setdefault(
                s.layer,
                {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0, "failed_tasks": 0},
            )
            r["calls"] += 1
            r["self_s"] += s.self_s
            r["jobs"] += s.jobs
            r["tasks"] += s.tasks
            r["failed_tasks"] += s.failed_tasks
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id, "layer": s.layer, "name": s.name,
                        "parent": s.parent, "op": s.op,
                        "start": s.start, "end": s.end, "self_s": s.self_s,
                        "jobs": s.jobs, "tasks": s.tasks,
                        "failed_tasks": s.failed_tasks, "attrs": s.attrs,
                    }
                    for s in self.spans
                ],
                f,
            )


def _wrap(tracer: Tracer, fn, layer: str, name: str, jobs: bool, post):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(layer, name, jobs) as s:
            out = fn(*args, **kwargs)
        if post is not None:
            with tracer.paused():
                post(s, args, out)
        return out

    return traced


def instrument(tracer: Tracer, targets) -> None:
    """targets: (owner, attribute names or None for every public plain
    method, layer, launches_jobs, post_hook). `post_hook(span, args,
    result)` runs untimed after the call to record counters."""
    for owner, names, layer, jobs, post in targets:
        if names is None:
            names = [
                n for n, v in vars(owner).items()
                if not n.startswith("_")
                and inspect.isfunction(v)
                and not inspect.isgeneratorfunction(v)
                and not hasattr(v, "__wrapped__")  # context managers
            ]
        for n in names:
            setattr(owner, n, _wrap(tracer, getattr(owner, n), layer, n, jobs, post))
