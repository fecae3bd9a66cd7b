"""In-memory spans for the traced benchmark run.

A span has a name, a start and an end (``time.perf_counter`` seconds), the
span that caused it, and a trace id shared by every span of one query run
or one micro-batch. Spans stay in memory and are written out once, at the
end of the run. With tracing off, :meth:`Tracer.span` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        # Wall time spent inside the tracer's own bookkeeping.
        self.overhead_s = 0.0
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str = ""):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack.__dict__.setdefault("ids", [])
        parent = stack[-1] if stack else None
        if not trace_id and parent is not None:
            trace_id = self.spans[parent].trace_id
        s = self.record(name, trace_id, 0.0, 0.0, parent)
        stack.append(s.span_id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.overhead_s += (s.start - t0) + (time.perf_counter() - s.end)

    def record(
        self, name: str, trace_id: str, start: float, end: float, parent: int | None
    ) -> Span:
        """Add a span; also used for spans measured elsewhere, such as the
        phases of a micro-batch that Spark's progress events report."""
        with self._lock:
            s = Span(len(self.spans), name, trace_id, parent, start, end)
            self.spans.append(s)
        return s

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        totals: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            totals[s.name] = totals.get(s.name, 0.0) + (s.end - s.start) - covered
        return totals

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
