"""In-memory spans recorded around calls into the program's layers.

A span has a name (``<layer>.<call>``), wall-clock start and end in epoch
milliseconds (the clock Spark's event log uses), its parent span and the
operation it belongs to.  Spans stay in memory and are written out once,
when the run ends.  Untraced runs use :data:`NO_TRACE`, which records
nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import asdict, dataclass, field


def now_ms() -> float:
    return time.time() * 1000.0


def union_ms(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start)
        - union_ms((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, []))
        for s in spans
    }


def layer_self_ms(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer."""
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


class Tracer:
    """Records spans; nesting is tracked per thread, because micro-batch
    callbacks run on the streaming query's thread while the main thread
    waits."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            next(self._ids), name, now_ms(), 0.0,
            parent.id if parent else None,
            op if op is not None else (parent.op if parent else None),
            attrs,
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = now_ms()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, fn, name: str):
        """``fn`` with a span around each call (a foreachBatch sink)."""

        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


class _NoTrace:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        yield None

    def wrap(self, fn, name: str):
        return fn


NO_TRACE = _NoTrace()
