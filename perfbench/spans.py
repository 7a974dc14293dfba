"""In-memory spans, self time and the tail-percentile rule."""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written once, by :meth:`dump`.

    Each thread has its own stack of open spans, so a span's parent is the
    innermost span open in the same thread. A disabled tracer records
    nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, req: str | None = None):
        """Time the block as a span; yields the span id (None when the
        tracer is disabled)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.add(name, start, end, parent, req, sid)

    def add(self, name: str, start: float, end: float,
            parent: int | None, req: str | None = None,
            sid: int | None = None) -> None:
        """Record a span measured elsewhere (e.g. a Spark phase read from
        the status store, converted to this clock)."""
        if not self.enabled:
            return
        if sid is None:
            sid = next(self._ids)
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, req))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": {str(k): v for k, v in
                                  self_times(self.spans).items()},
                       **extra}, fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    child spans cover (children clipped to the parent; overlapping
    children counted once)."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is None:
            continue
        lo, hi = max(s.start, p.start), min(s.end, p.end)
        if hi > lo:
            children.setdefault(p.sid, []).append((lo, hi))
    return {s.sid: s.duration - _union_length(children.get(s.sid, []))
            for s in spans}


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.sid]
    return out


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that has at least
    ``beyond`` samples above it, or None when there are too few samples.

    With n sorted samples, the value at 0-based rank n-1-beyond has
    exactly ``beyond`` samples above it; it is the (n-beyond)/n
    percentile. 100 samples give the p90."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return 100.0 * (n - beyond) / n, ordered[n - 1 - beyond]


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile, q in [0, 1]."""
    ordered = sorted(values)
    k = min(len(ordered), max(1, math.ceil(q * len(ordered))))
    return ordered[k - 1]
