"""Spans, self times and summary statistics for the benchmark.

Pure Python: no Spark import, so the arithmetic is unit-testable
(``perfbench/test_perfbench.py``).

A span covers one call into a layer, made from the benchmark's own
wrappers. Its name is ``<layer>.<what>`` (``queries.build``,
``spark.action``, ...); the root span of each operation is ``op``,
which belongs to no layer, so its self time is the part of the
operation no layer covers.
"""

from __future__ import annotations

import json
import math
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


@dataclass
class Tracer:
    """Records spans in memory; ``enabled=False`` records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: str):
        return self._record(name, op) if self.enabled else nullcontext()

    @contextmanager
    def _record(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            self.counters[name] += n

    def dump(self, f, pass_no: int) -> None:
        """Write the spans as JSON lines; ``parent`` is an ``id`` of the
        same pass."""
        for i, s in enumerate(self.spans):
            f.write(json.dumps({
                "pass": pass_no, "id": i, "name": s.name, "start": s.start,
                "end": s.end, "parent": s.parent, "op": s.op,
            }) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children of one span run one after another (the benchmark is a
    single closed loop), but overlapping children are merged anyway so
    no instant is subtracted twice.
    """
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children[i]):
            lo, hi = max(lo, s.start), min(hi, s.end)
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
        out.append((s.end - s.start) - covered)
    return out


def self_time_by(spans: list[Span], key) -> dict[str, float]:
    """Sum of self times grouped by ``key(span)``."""
    totals: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans)):
        totals[key(s)] += t
    return dict(totals)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile (0-100) that leaves at least ``beyond`` of
    ``n`` samples above it, by nearest rank; ``None`` when ``n`` is too
    small for any percentile to have that many samples beyond it."""
    k = n - beyond
    return 100.0 * k / n if k >= 1 else None


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``pct`` percent of the samples at or below it."""
    ordered = sorted(values)
    # the tolerance keeps a rank computed as 100*k/n from rounding up to k+1
    k = max(1, math.ceil(pct / 100.0 * len(ordered) - 1e-9))
    return ordered[k - 1]


def failed_op_ratio(attempted: int, failed: int) -> float:
    """Failed or wrong-result operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
