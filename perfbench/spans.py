"""In-memory span recorder used by the traced run.

A span is (id, parent, name, start, end): the parent is the span open on
the same thread when this one started (a thread-local stack). Spans are
kept in a list and summarised at the end of the run; nothing is written
while the workload is timed. A span's self time is its duration minus
the part of it that its children cover.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from typing import NamedTuple


class Span(NamedTuple):
    id: int
    parent: int | None
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self, clock=time.monotonic):
        self.clock = clock
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def record(self, name: str, start: float, end: float, parent: int | None = None) -> None:
        """Add a span measured elsewhere (e.g. a lazily consumed iterator)."""
        self.spans.append(Span(next(self._ids), parent, name, start, end))

    def wrap(self, name: str, fn, on_return=None):
        """``fn`` timed as span ``name`` while the tracer is enabled.
        ``on_return(result, args, kwargs, end)`` runs after a traced call."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            start = tracer.clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                end = tracer.clock()
                stack.pop()
                tracer.spans.append(Span(sid, parent, name, start, end))
            if on_return is not None:
                on_return(result, args, kwargs, end)
            return result

        return traced

    def patch(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper, where callers look
        it up. Class-level static and class methods keep their kind."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(name, raw.__func__, on_return))
        elif isinstance(raw, staticmethod):
            new = staticmethod(self.wrap(name, raw.__func__, on_return))
        else:
            new = self.wrap(name, raw, on_return)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, raw))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[str, float]:
    """Per span name: summed duration minus the time children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, ())
            if b > s.start and a < s.end
        ]
        out[s.name] += (s.end - s.start) - union_length(kids)
    return dict(out)


def by_name(spans) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        out[s.name].append(s)
    return out


def overlap(intervals, cover) -> float:
    """Summed length of ``intervals`` that lies inside the union of ``cover``."""
    merged: list[list[float]] = []
    for s, e in sorted(cover):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    total = 0.0
    for s, e in intervals:
        for ms, me in merged:
            if me <= s:
                continue
            if ms >= e:
                break
            total += min(e, me) - max(s, ms)
    return total
