"""In-memory spans, self time, and the summary statistics the benchmark
reports (medians, the tail-percentile rule)."""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: percentiles the tail is chosen from, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a reported tail percentile
TAIL_MIN_BEYOND = 10


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded by the benchmark around its calls into each layer.

    ``active`` is cleared during warm-up. When tracing is off, ``span``
    costs one attribute test. ``cost_s`` adds up the time spent in the
    tracer's own bookkeeping and in the probes' extra calls (``charge``),
    which is the tracing overhead on the traced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self.cost_s = 0.0
        self._stack: list[int] = []

    @property
    def on(self) -> bool:
        return self.enabled and self.active

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, math.nan, math.nan, parent, self.op)
        self.spans.append(sp)
        self._stack.append(sid)
        sp.start = time.perf_counter()
        self.cost_s += sp.start - t0
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.cost_s += time.perf_counter() - sp.end

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int | None:
        """Record an interval the program measured itself (a
        ``PipelineRun.elapsed``, a proxy's timestamps)."""
        if not self.on:
            return None
        t0 = time.perf_counter()
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.op))
        self.cost_s += time.perf_counter() - t0
        return sid

    def charge(self, fn):
        """Call ``fn()`` and count its time as tracing overhead."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.cost_s += time.perf_counter() - t0

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        the interval covered by its children (overlaps counted once)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_time_s": self.self_times(),
                },
                f,
            )


def median(values: list[float]) -> float:
    """Median; 0.0 for no samples (a layer the workload never called)."""
    v = sorted(values)
    if not v:
        return 0.0
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def _rank(p: float, n: int) -> int:
    # the epsilon keeps p * n / 100 from rounding up past an exact rank
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    v = sorted(values)
    return v[_rank(p, len(v)) - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest ladder percentile that has at
    least ``TAIL_MIN_BEYOND`` samples strictly beyond its rank, or None
    when even the median does not."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p, percentile(values, p)
    return None
