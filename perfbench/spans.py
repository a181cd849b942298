"""In-memory spans recorded around the benchmark's calls into each layer.

A span is one interval on the wall clock (seconds since the epoch)
with a parent.  Spans are kept in memory while the run measures and
written out once when it ends.  A span's self time is its duration
minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        span = Span(len(self.spans), parent, name, start, end, attrs)
        self.spans.append(span)
        return span.id

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record the enclosed block; yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        span = Span(len(self.spans), parent, name, time.time(), 0.0, attrs)
        self.spans.append(span)
        try:
            yield span.id
        finally:
            span.end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }
