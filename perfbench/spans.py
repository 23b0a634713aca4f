"""Spans around the program's public calls, recorded from outside it.

``Tracer.wrap`` replaces a function on its owner (class or module) for the
life of the run; each call records one span: name, start, end, parent span
and the unit of work it belongs to (a micro-batch id or a registry entry).
Spans stay in memory and are written out once, at the end of the run.
A wrapper installed while ``enabled`` is false only calls through, so the
untraced window of a traced run pays one attribute check per call.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# Measured windows of a run, traced or not. The first window is the one
# the end-to-end metrics come from. A traced run then puts its traced window
# between two more untraced ones: the JVM is still speeding up over the
# first window, and bracketing cancels that drift out of the tracing
# overhead it reports.
WINDOWS = {False: [False], True: [False, False, True, False]}
TRACED = WINDOWS[True].index(True)


def overhead_share(untraced_before: float, traced: float, untraced_after: float) -> float:
    """How much slower the traced window ran than the untraced windows
    around it, in time per message or per pass."""
    return traced / ((untraced_before + untraced_after) / 2) - 1


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    unit: object


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.unit: object = None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()  # spans come from the main and callback threads

    def wrap(self, owner, attr: str, name, on_enter=None) -> None:
        """Record a span around every call of ``owner.attr``. ``name`` is a
        string or a function of the call's arguments; ``on_enter`` runs
        before the call (e.g. to advance ``unit``)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if on_enter is not None:
                on_enter(*args, **kwargs)
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    @contextlib.contextmanager
    def span(self, label: str):
        """A span around code in the benchmark itself."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        span = Span(label, time.perf_counter(), 0.0, stack[-1] if stack else None, self.unit)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def self_times(self) -> dict[object, dict[str, float]]:
        """unit -> span name -> summed self time (span minus the part of
        it its child spans cover)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[object, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            out[s.unit][s.name] += (s.end - s.start) - child[i]
        return out

    def totals(self) -> dict[object, dict[str, float]]:
        """unit -> span name -> summed inclusive time."""
        out: dict[object, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s.unit][s.name] += s.end - s.start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__, default=str) + "\n")


def job_counts(status, job_ids) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ``job_ids`` ran, from Spark's status
    tracker. Skipped stages (their shuffle output was reused) and their
    tasks are not counted."""
    stages = tasks = 0
    for j in job_ids:
        for s in list(status.getJobInfo(j).stageIds):
            info = status.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
    return len(job_ids), stages, tasks
