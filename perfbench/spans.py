"""In-memory spans for the traced run.

A span is (name, start, end, parent) with times in epoch milliseconds, so
spans recorded in the worker, in the load-generator process and in the Spark
event log line up on one clock.  A disabled tracer records nothing, which is
how the untraced runs keep their timings free of tracing work.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start_ms: float, end_ms: float, parent: int | None = None, **attrs) -> int | None:
        """Record a finished span; returns its id, or None when disabled."""
        if not self.enabled:
            return None
        self.spans.append(Span(name, start_ms, end_ms, parent, attrs))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the block as a span.  Yields the span id (None when disabled)
        so nested spans can name their parent."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, now_ms(), now_ms(), parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid].end_ms = now_ms()

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -float("inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: count, total and self milliseconds.  A span's self
    time is its duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start_ms, p.start_ms), min(s.end_ms, p.end_ms)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    out: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        agg = out.setdefault(s.name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["count"] += 1
        agg["total_ms"] += s.duration_ms
        agg["self_ms"] += s.duration_ms - _covered(children.get(i, []))
    return out
