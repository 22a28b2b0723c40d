"""In-memory spans for the traced run, and the self-time arithmetic.

Spans are recorded by the bench around its calls into each engine layer
(name, start, end, parent); nothing inside the engine is instrumented. They
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, time.perf_counter(), 0.0, parent)
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"trace": self.trace_id, **asdict(s)}) + "\n")


def prefix_self_times(cumulative: list[tuple[str, float]]) -> dict[str, float]:
    """Layer self times from cumulative prefixes of one plan: prefix k runs
    layers 1..k over the same rows, so layer k's self time is prefix k's
    time minus prefix k-1's. The first prefix is its own self time."""
    out, prev = {}, 0.0
    for name, t in cumulative:
        out[name] = t - prev
        prev = t
    return out
