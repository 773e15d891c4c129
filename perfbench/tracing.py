"""Spans recorded from the benchmark's side of each layer boundary.

The traced run replaces chosen public callables of ``pyspider_spark``
(methods on its classes, functions in its modules) with wrappers that
record one span per call, and puts the originals back when it ends.
Nothing inside the package is edited. A span is
``{name, layer, start, end, parent, run_id}``; spans live in memory and
are written out once, when the run ends.

Parents come from a per-thread stack. A span opened on a thread with an
empty stack (the crawl loop's concurrent write families) attaches to the
span set with :meth:`Tracer.adopt_orphans`, so those writes count under
their round.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._runs = itertools.count(1)
        self._orphan_parent: dict | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, run_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else self._orphan_parent
        sp = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": run_id
            or (parent["run_id"] if parent else f"run{next(self._runs)}"),
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def adopt_orphans(self, sp: dict):
        """While active, spans opened on threads with no open span get
        ``sp`` as their parent."""
        prev, self._orphan_parent = self._orphan_parent, sp
        try:
            yield
        finally:
            self._orphan_parent = prev

    # -------------------------------------------------------- patching
    def replace(self, owner, attr: str, make) -> None:
        """Set ``owner.attr`` (a class or module attribute) to
        ``make(original)`` until :meth:`unwrap_all`."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patched.append((owner, attr, orig))

    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        """Record a span around every call of ``owner.attr``."""
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"

        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(label, layer):
                    return orig(*args, **kwargs)

            return wrapper

        self.replace(owner, attr, make)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------------- analysis
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.by_name(name)]

    def export(self) -> list[dict]:
        return sorted(self.spans, key=lambda s: s["start"])


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that child spans
    cover (children may overlap each other; their union counts once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


class SparkJobCounter:
    """Jobs, stages and tasks Spark ran between two snapshots, read from
    ``sparkContext.statusTracker()`` (no job groups: the crawl's write
    families submit from their own threads)."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self._before: set[int] = set()

    def _job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def mark(self) -> None:
        self._before = self._job_ids()

    def since_mark(self) -> tuple[int, int, int]:
        jobs = sorted(self._job_ids() - self._before)
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran = 0
        for sid in stages:
            info = self.tracker.getStageInfo(sid)
            # skipped stages (reused shuffle output) never submit tasks
            if info is not None and info.numCompletedTasks > 0:
                ran += 1
                tasks += info.numTasks
        return len(jobs), ran, tasks
