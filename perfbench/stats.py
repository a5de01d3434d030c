"""Pure helpers of the benchmark: percentiles, span self time, metric names.

Nothing here imports Spark, so the logic is testable on its own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import json
import math
import re
import time
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
METRIC_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def valid_metric_unit(unit: str) -> bool:
    return METRIC_UNIT.fullmatch(unit) is not None


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, by nearest rank.

    Returns ``(value, percentile, samples_beyond)``. The p-th percentile
    by nearest rank is the ``ceil(p * n / 100)``-th smallest sample, so
    ``n - ceil(p * n / 100)`` samples lie beyond it; the largest p that
    keeps this at ``beyond`` or more is ``floor(100 * (n - beyond) / n)``.
    """
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    s = sorted(xs)
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return s[rank - 1], p, n - rank


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Spans kept in memory and written as JSONL at the end of a run.

    A disabled tracer records nothing: ``span`` returns a no-op context,
    so the untraced run pays one attribute test per boundary.
    """

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: int | None = None):
        return _SpanCtx(self, name, op) if self.enabled else _NOOP

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "op", "start", "span_id", "parent")

    def __init__(self, tracer: Tracer, name: str, op: int | None):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        t = self.tracer
        self.parent = t._stack[-1] if t._stack else None
        if self.op is None and self.parent is not None:
            self.op = t.spans[self.parent].op
        self.span_id = len(t.spans)
        t.spans.append(Span(self.name, time.perf_counter(), math.nan, self.span_id,
                            self.parent, self.op))
        t._stack.append(self.span_id)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.span_id].end = time.perf_counter()
        t._stack.pop()
        return False


class _NoopCtx:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _NoopCtx()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of intervals covers."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    ]


def self_time_by_name(spans: list[Span], ops: set[int] | None = None) -> dict[str, float]:
    """Summed self time per span name, over the spans of ``ops`` (all if None)."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        if ops is None or s.op in ops:
            out[s.name] = out.get(s.name, 0.0) + t
    return out
