"""Spans recorded in the benchmark's own code around each call into a
layer of the engine, and the statistics the report is made of.

A span is (name, start, end, parent, run id, attributes).  Spans stay
in memory and are written once, when the run ends.  A layer's self
time is its span's duration minus the part of that interval covered by
its child spans.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch
    per call, so the untraced run executes the same code."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id,
                 dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    """Per span: its duration minus the union of its children's
    intervals clipped to it."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return [s.duration - _covered(kids.get(i, [])) for i, s in enumerate(spans)]


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + st
    return out


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """(percentile, value, sample count) for the highest percentile of
    the ladder that leaves at least ``min_beyond`` samples beyond it;
    the median when the sample is too small for any higher one."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    for p in TAIL_LADDER:
        k = _rank(p, n)
        if n - k >= min_beyond:
            return p, sorted(values)[k - 1], n
    return 50.0, statistics.median(values), n
