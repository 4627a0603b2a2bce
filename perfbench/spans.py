"""Spans recorded around the engine's public calls, and the statistics the
benchmark reports.

Spans are kept in memory and written out when the run ends. A layer's self
time is its span's duration minus the part of that interval its child spans
cover; the benchmark's own op span is the root of every op.
"""

from __future__ import annotations

import functools
import math
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None


class Tracer:
    """Records nested spans on one thread. ``enabled`` False makes
    :meth:`span` a no-op, so the same workload code runs traced and
    untraced."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    # -- wrapping the engine's public functions ----------------------------

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with
        a wrapper that records span ``name`` while tracing is enabled."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


class _SpanCtx:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.idx = -1

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.tracer._close(self.idx)
        return False


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the union of its direct
    children's intervals (clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            parent = spans[sp.parent]
            children[sp.parent].append(
                (max(sp.start, parent.start), min(sp.end, parent.end))
            )
    return [
        (sp.end - sp.start) - union_length(children.get(i, []))
        for i, sp in enumerate(spans)
    ]


def self_time_by_name(spans: list[Span], ops: set[int] | None = None) -> dict[str, float]:
    """Summed self time per span name, over spans of the given ops."""
    out: dict[str, float] = defaultdict(float)
    for sp, st in zip(spans, self_times(spans)):
        if ops is None or sp.op in ops:
            out[sp.name] += st
    return dict(out)


def calls_by_name(spans: list[Span], ops: set[int] | None = None) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for sp in spans:
        if ops is None or sp.op in ops:
            out[sp.name] += 1
    return dict(out)


def tail_percentile(values: list[float], min_beyond: int = 10):
    """The highest whole percentile that still has at least ``min_beyond``
    samples above it, by nearest rank: ``(percentile, value, n)``.

    With n samples the p-th percentile is the ceil(p·n/100)-th smallest, so
    the rule allows p = floor(100·(n − min_beyond)/n). A tail must lie above
    the median, so None is returned when that p is 50 or less (n ≤ 2 ×
    min_beyond)."""
    n = len(values)
    if n <= 2 * min_beyond:
        return None
    p = (100 * (n - min_beyond)) // n
    if p <= 50:
        return None
    rank = math.ceil(p * n / 100)
    return p, sorted(values)[rank - 1], n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan
