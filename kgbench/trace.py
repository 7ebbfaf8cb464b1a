"""Bench-side spans around calls into the program's layers.

A :class:`Tracer` records spans (name, start, end, parent) in memory and
gives each span its own Spark job group, so every job Spark runs inside a
span can be attributed to it from the event log afterwards
(:mod:`kgbench.ledger`).  :meth:`Tracer.patched` swaps timing wrappers in
for module attributes of the program for the duration of a ``with`` block;
the wrappers pass every argument through unchanged and return the wrapped
function's result, so the plans Spark runs are the ones an untraced call
runs.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass

GROUP_PREFIX = "kgbench:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu: float = 0.0     # process-tree CPU seconds over the span

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}:{self.name}"

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, "cpu": self.cpu,
                "group": self.group}


@contextlib.contextmanager
def patched(targets):
    """For each ``(owner, attr, make)``, set ``owner.attr`` to
    ``make(original)`` for the duration of the block; the originals are
    always restored."""
    saved = []
    try:
        for owner, attr, make in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, make(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


class Tracer:
    """``sc``: the SparkContext whose job group each span sets (None in
    tests); ``cpu_fn``: a CPU-seconds clock read at span start and end."""

    def __init__(self, sc=None, cpu_fn=None):
        self.sc = sc
        self.cpu_fn = cpu_fn
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None):
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 span.group if span else None)
        self.sc.setLocalProperty("spark.job.description",
                                 span.name if span else None)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        cpu0 = self.cpu_fn() if self.cpu_fn else 0.0
        try:
            yield s
        finally:
            s.end = time.time()
            s.cpu = (self.cpu_fn() - cpu0) if self.cpu_fn else 0.0
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, fn, name_of):
        """``fn`` timed under the span ``name_of(args, kwargs)``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return fn(*args, **kwargs)
        return traced

    def patched(self, targets):
        """Replace ``(owner, attr, name_of)`` targets with traced wrappers
        for the duration of a ``with`` block."""
        return patched([(owner, attr, lambda fn, n=name_of: self.wrap(fn, n))
                        for owner, attr, name_of in targets])

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        ivs = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered
