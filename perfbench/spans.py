"""In-memory spans recorded from outside the program under test.

`Tracer.wrap(owner, attr, name)` replaces a public method (or a
context-manager method) on a class with a wrapper that records one span per
call: name, start, end, the span that was open on the same thread when it
started (its parent), the job ids it touched, and a few counts.  Nothing is
written until the run ends; `restore()` puts every original back.

Self time of a span is its duration minus the part of it that its direct
children cover.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    jids: frozenset = frozenset()
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(next(self._ids), name, stack[-1].id if stack else None, time.time())
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            self.spans.append(sp)  # list.append is atomic under the GIL

    def wrap(self, owner, attr: str, name: str, annotate=None, before=None) -> None:
        """Record a span around every call of `owner.attr`.  `before(span,
        args, kwargs)` and `annotate(span, args, kwargs, result)` may attach
        jids/attrs before the call starts and once it returns."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                if before is not None:
                    before(sp, args, kwargs)
                result = orig(*args, **kwargs)
                if annotate is not None:
                    annotate(sp, args, kwargs, result)
                return result

        self._patch(owner, attr, wrapper)

    def wrap_cm(self, owner, attr: str, name: str) -> None:
        """Like `wrap`, for a method returning a context manager: the span
        covers only the wait to enter it (e.g. acquiring a lock)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        @contextmanager
        def timed(*args, **kwargs):
            t0 = time.time()
            with orig(*args, **kwargs) as cm:
                with self.span(name) as sp:
                    sp.t0 = t0
                yield cm

        self._patch(owner, attr, timed)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def busy_s(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def self_s(self, name: str) -> float:
        """Σ over `name` spans of (duration − union of direct children)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        total = 0.0
        for s in self.named(name):
            covered, end = 0.0, s.t0
            for c in sorted(children.get(s.id, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            total += s.dur - covered
        return total

    @staticmethod
    def span_cost_s(n: int = 20000) -> float:
        """Measured cost of recording one span (enter + exit) on the host it runs on."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule); 0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
