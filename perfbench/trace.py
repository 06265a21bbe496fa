"""In-memory spans for the traced run, and wrappers that time calls into
the engine's public functions from outside it.

A span has a name, a start, an end, a parent and the id of the query
execution it belongs to. Entering a span can also set a Spark job group
named after the span, so every job submitted on this thread while the
span is innermost is attributed to it (``group_of``). Spans are kept in
memory and only written out when the run ends.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "pbspan:"


@dataclass
class Span:
    id: int
    exec_id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc  # SparkContext whose job group follows the innermost span
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_exec = 0
        # measured values that are not durations (e.g. Catalyst phase time)
        self.notes: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, new_exec: bool = False):
        parent = self._stack[-1] if self._stack else None
        if new_exec or parent is None:
            exec_id = self._next_exec
            self._next_exec += 1
        else:
            exec_id = parent.exec_id
        s = Span(len(self.spans), exec_id, name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    def group_of(self, job_group: str | None) -> Span | None:
        if not job_group or not job_group.startswith(GROUP_PREFIX):
            return None
        i = int(job_group[len(GROUP_PREFIX):])
        return self.spans[i] if 0 <= i < len(self.spans) else None

    def ancestors(self, s: Span):
        """``s`` and every span above it."""
        while s is not None:
            yield s
            s = self.spans[s.parent] if s.parent is not None else None

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, total duration minus the time of direct children."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.duration
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.duration - child_time[s.id]
    return dict(out)


def totals(spans: list[Span]) -> dict[str, tuple[int, float]]:
    """Per span name, (calls, inclusive seconds)."""
    out: dict[str, list] = defaultdict(lambda: [0, 0.0])
    for s in spans:
        out[s.name][0] += 1
        out[s.name][1] += s.duration
    return {k: (v[0], v[1]) for k, v in out.items()}


def instrument(tracer: Tracer, module, attr: str, span_name: str, package: str):
    """Wrap ``module.attr`` in a span, in every already-imported module of
    ``package`` that holds a reference to it (``from x import f`` copies
    the reference, so patching the defining module alone misses callers).
    Returns a function that restores the originals."""
    original = getattr(module, attr)

    def wrapped(*args, **kwargs):
        with tracer.span(span_name):
            return original(*args, **kwargs)

    patched = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for key, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, key, wrapped)
                patched.append((mod, key))

    def undo() -> None:
        for mod, key in patched:
            setattr(mod, key, original)

    return undo
