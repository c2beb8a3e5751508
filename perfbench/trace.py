"""Spans, self time and percentiles for the benchmark.

A span records a name, start, end, parent span and request id. Spans
are kept in memory and summarized when the run ends. ``Tracer.wrap``
puts a span around a library function or method for the traced run
only, on the binding its callers use; ``restore`` puts the original
back. The untraced run uses ``NullTracer``, whose spans cost one
context-manager entry and record nothing.
"""

from __future__ import annotations

import contextlib
import functools
import math
import time
from collections import defaultdict
from dataclasses import dataclass


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile. Refuses (ValueError) a tail
    percentile with fewer than 10 samples beyond it, where one outlier
    would decide the value."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    if q > 50 and n * (100 - q) / 100 < 10:
        raise ValueError(f"p{q:g} needs >= 10 samples beyond it, "
                         f"{n} samples give {n * (100 - q) / 100:.1f}")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * n) - 1)]


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values, top: float = 99.9) -> tuple[float, float]:
    """(q, value) for the highest percentile of TAIL_LADDER, at most
    ``top``, with at least 10 samples beyond it (p50 when there are
    fewer than 40 samples)."""
    for q in TAIL_LADDER:
        if q > top:
            continue
        if q == 50.0 or len(values) * (100 - q) / 100 >= 10:
            return q, percentile(values, q)
    raise AssertionError("unreachable")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: int | None


def _union_length(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that the union of its children covers (children may overlap each
    other and may stick out of the parent; only the covered part of
    the parent's own interval is subtracted)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = _union_length((max(c.start, s.start), min(c.end, s.end))
                                for c in kids.get(s.sid, ()))
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    enabled = True

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.req: int | None = None
        self._next_req = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, self.clock(), 0.0, parent, self.req)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = self.clock()

    @contextlib.contextmanager
    def request(self):
        """Spans opened inside share one request id."""
        self._next_req += 1
        prev, self.req = self.req, self._next_req
        try:
            yield self.req
        finally:
            self.req = prev

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version until restore()."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def wrap_with(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(orig)`` until restore()."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ---- summaries ----
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.by_name(name))

    def covered(self) -> float:
        """Seconds covered by the union of root spans."""
        return _union_length((s.start, s.end) for s in self.spans
                             if s.parent is None)


class NullTracer:
    """Tracing off: spans record nothing, wrap() patches nothing."""
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    @contextlib.contextmanager
    def request(self):
        yield None

    def restore(self) -> None:
        pass
