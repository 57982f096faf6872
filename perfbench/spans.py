"""Spans, counters and the statistics the benchmark reports.

A ``Tracer`` records spans (name, start, end, parent) and counters in
memory; the traced run writes them out once at the end. An untraced
run uses a disabled tracer, whose ``span`` and ``count`` do nothing,
so the timed code path is the same in both runs.

Interception wraps the name a caller looks up (``patch``): a function
imported with ``from m import f`` is patched in every module that holds
it, and restored when the tracer closes.
"""

from __future__ import annotations

import functools
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


def supported_percentiles(values: list[float], levels=(50, 75, 90, 95, 99)) -> dict[int, float]:
    """The requested percentiles that have at least ten samples above
    them (nearest-rank), keyed by level."""
    n = len(values)
    ordered = sorted(values)
    out = {}
    for p in levels:
        rank = max(1, -(-p * n // 100))  # ceil(p * n / 100)
        if n - rank >= 10:
            out[p] = ordered[rank - 1]
    return out


def iqr_share(values: list[float]) -> float:
    """Quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


@dataclass
class Span:
    name: str
    start: float  # wall clock, comparable with Spark's event log
    end: float
    parent: int | None  # index into Tracer.spans


def union_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(spans: list[Span], i: int) -> float:
    """Span ``i``'s duration minus the part of it its children cover."""
    s = spans[i]
    children = [(max(c.start, s.start), min(c.end, s.end)) for c in spans if c.parent == i]
    return (s.end - s.start) - union_seconds(children)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        stack = self._stack.__dict__.setdefault("s", [])
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, stack[-1] if stack else None))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] += n

    # -- interception ------------------------------------------------------

    def patch(self, original, name_of, on_return=None) -> int:
        """Replace ``original`` wherever a loaded module of the package
        holds it. ``name_of(*args, **kwargs)`` names the span;
        ``on_return(args, result)`` may record counters. Returns the
        number of bindings patched."""
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                result = original(*args, **kwargs)
            if on_return is not None:
                on_return(args, result)
            return result

        n = 0
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("tfl_realtime_lakehouse_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, attr, value))
                    setattr(mod, attr, wrapper)
                    n += 1
        return n

    def close(self) -> None:
        for mod, attr, value in reversed(self._patches):
            setattr(mod, attr, value)
        self._patches.clear()

    # -- summaries ---------------------------------------------------------

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_by_layer(self) -> dict[str, float]:
        """Self time summed per top-level layer (first dotted name part)."""
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name.split(".", 1)[0]] += self_time(self.spans, i)
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]
