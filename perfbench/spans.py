"""In-memory spans for the traced benchmark run.

A span is one call into a layer: name, layer, start, end, parent and
the id of the operation it belongs to. Spans stay in memory and are
written out when the run ends. A layer's self time is the duration of
its spans minus the part of each interval that child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    layer: str
    op_id: str | None
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; a no-op while ``enabled`` is false.

    ``on_enter`` / ``on_exit`` hooks let the caller tag work started
    inside a span (the benchmark sets Spark's job group to the span id).
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.on_enter = None
        self.on_exit = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, *, op_id: str | None = None,
             parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent or (stack[-1] if stack else None)
        if op_id is None and parent is not None:
            op_id = parent.op_id
        with self._lock:
            sid = f"s{next(self._ids)}"
        s = Span(sid, name, layer, op_id, parent.span_id if parent else None,
                 time.time(), attrs=dict(attrs))
        stack.append(s)
        token = self.on_enter(s) if self.on_enter else None
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.on_exit:
                self.on_exit(s, token)
            with self._lock:
                self.spans.append(s)

    def add(self, span: Span) -> None:
        """Record a span measured elsewhere (Spark jobs from the event log)."""
        with self._lock:
            self.spans.append(span)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer not covered by that layer's child spans."""
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += s.duration - covered(children.get(s.span_id, []), s.start, s.end)
    return dict(out)
