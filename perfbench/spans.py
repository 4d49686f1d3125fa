"""Spans recorded around calls into the engine, plus the summary statistics
the benchmark reports.

A span has a name, start, end, parent span and request id. Spans stay in
memory and are written once, when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int


class Tracer:
    """Span recorder. When ``enabled`` is false, ``span`` still times the
    block (callers use the duration) but records nothing.

    In a traced run, units of work alternate between traced and untraced
    (``begin``), so the run itself measures what tracing costs end to end."""

    def __init__(self, tracing: bool):
        self.tracing = tracing
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def begin(self, unit: int) -> bool:
        """Start unit of work ``unit``; returns whether it is traced."""
        self.enabled = self.tracing and unit % 2 == 0
        return self.enabled

    @contextmanager
    def span(self, name: str, request: int, parent: int | None = None):
        rec = {"id": next(self._ids), "duration": 0.0}
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["duration"] = end - start
            if self.enabled:
                with self._lock:
                    self.spans.append(Span(rec["id"], name, start, end, parent, request))

    def self_times(self) -> dict[str, list[float]]:
        """Layer name -> self time of each of its spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            out.setdefault(s.name, []).append(s.end - s.start - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def next_unit_fits(done: int, elapsed: float, seconds: float, tracer: Tracer) -> bool:
    """Whether to run another unit of work: not if, at the mean pace of the
    ``done`` units so far, it would end after ``seconds``. At least one unit
    always runs, and a traced run runs one traced and one untraced unit."""
    if done < (2 if tracer.tracing else 1):
        return True
    return elapsed * (done + 1) / done <= seconds


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least TAIL_BEYOND samples beyond it:
    (value, percentile). With too few samples, the maximum is returned with
    percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        return (s[-1] if s else 0.0), 100.0
    rank = n - TAIL_BEYOND - 1
    return s[rank], 100.0 * (rank + 1) / n
