"""In-memory spans around the engine's public calls, plus the small amount of
interval and percentile arithmetic the report needs.

A span is opened around each call the benchmark makes into a layer. With
tracing on, every span also becomes one Spark job group, so the event log can
attribute each Spark job to the span that caused it (see ``eventfold``).
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    role: str | None  # "write" / "read" for the timed calls, else None
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"pb-{self.id}"


class Tracer:
    """Records spans; with ``spark_context`` set, also tags Spark jobs.

    ``spark_context`` is None for the untraced run, which then only times
    the calls. Nesting follows the ``with`` blocks of one thread."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, role: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, role, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def timed(self, role: str) -> list[Span]:
        return [s for s in self.spans if s.role == role]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100), as numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_CANDIDATES_PERMILLE = (999, 990, 950, 900, 750, 500)


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least 10 samples beyond it, or None when
    even the median has fewer than 10 samples above it (integer arithmetic,
    so 100 samples do support p90)."""
    for k in TAIL_CANDIDATES_PERMILLE:
        if n * (1000 - k) >= 10 * 1000:
            return k / 10
    return None


def summarize(values: list[float]) -> dict:
    """p50, the supported tail percentile, max and the sample count."""
    if not values:
        return {"n": 0}
    q = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "tail_pct": q,
        "tail": percentile(values, q) if q is not None else None,
        "max": max(values),
    }
