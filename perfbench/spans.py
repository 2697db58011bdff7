"""In-memory span recorder for the traced runs.

A span is (name, start, end, parent, trace id), kept in a list and
written out once as JSON when the run ends.  Spans are taken in the
benchmark's own code around calls into the program's public functions;
nothing inside the program is instrumented.  Times are wall-clock
(``time.time``) so they line up with the Spark event log's epoch
milliseconds.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    span_id: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Nested spans under one trace id per ``trace()`` block."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace_id = ""

    @contextmanager
    def trace(self, name: str):
        """Root span of a new trace."""
        self._trace_id = uuid.uuid4().hex[:16]
        with self.span(name) as root:
            yield root

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self._trace_id,
                 len(self.spans))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its children cover (children of
        one parent run one after another, so their durations add)."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), seconds=s.seconds,
                     self_seconds=self.self_seconds(s))
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


class Phases:
    """Wall seconds per phase of a run, for the detail record."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = time.perf_counter() - t0
