"""Spans around calls into the program's layers, and Spark job counts.

Spans are recorded from outside the program: ``patched`` swaps module
attributes for timing wrappers for the duration of one traced run and
restores them afterwards. Spark is lazy, so the span of a call that
runs an action also covers the upstream work that action executes.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Callable, Iterator


class Recorder:
    """In-memory spans: name, start, end, parent, and the trace (one
    timed run) they belong to. Single-threaded: the parent is the span
    open on the driver thread when a span starts."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str | Callable[..., str], fn: Callable) -> Callable:
        """``fn`` wrapped in a span; a callable ``name`` gets the call's
        arguments and returns the span name."""

        def wrapper(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            with self.span(n):
                return fn(*args, **kwargs)

        return wrapper

    def totals(self, trace_id: int) -> dict[str, float]:
        """Summed duration per span name within one trace."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["trace"] == trace_id and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, Callable]]) -> Iterator[None]:
    """Temporarily replace ``getattr(obj, attr)`` with ``make(original)``
    for each ``(obj, attr, make)``; originals come back on exit."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, make in targets:
            setattr(obj, attr, make(getattr(obj, attr)))
        yield
    finally:
        for obj, attr, orig in reversed(saved):
            setattr(obj, attr, orig)


@contextlib.contextmanager
def spark_counts(sc, group: str) -> Iterator[dict[str, int]]:
    """Count the Spark jobs, stages and tasks run inside the block, by
    tagging them with a job group and asking the status tracker."""
    counts: dict[str, int] = {}
    sc.setJobGroup(group, group)
    try:
        yield counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for st in stages:
            info = tracker.getStageInfo(st)
            if info is not None:
                tasks += info.numTasks
        counts.update(
            {"spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks}
        )
