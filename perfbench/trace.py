"""In-memory spans for the traced run.

A span is (id, parent, name, start, end, attrs).  Spans are recorded
around calls into the program from the benchmark's own code, kept in
memory; the run writes them once at the end.  A layer's self time is its
spans' durations minus the parts covered by their child spans.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the enclosed block.  The parent is the innermost open
        span of this thread unless given."""
        span = Span(next(self._ids), parent if parent is not None else self.current(),
                    name, time.time(), 0.0, dict(attrs))
        self._stack().append(span.id)
        try:
            yield span
        finally:
            self._stack().pop()
            span.end = time.time()
            self.spans.append(span)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a span rebuilt after the fact (from progress events)."""
        span = Span(next(self._ids), parent, name, start, end, dict(attrs))
        self.spans.append(span)
        return span.id

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus time covered by children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
            )
            out[s.name] += max(0.0, (s.end - s.start) - covered)
        return dict(out)


class NullTracer:
    """Stands in for Tracer in the untraced run: records nothing."""

    spans: tuple = ()

    def span(self, name: str, parent: int | None = None, **attrs):
        return contextlib.nullcontext()

    def add(self, *args, **kwargs) -> None:
        return None


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
