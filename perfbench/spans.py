"""In-memory span recorder for the benchmark's calls into each layer.

A span is (id, name, parent, start, end, run id), with epoch-second
timestamps so spans line up with the Spark event log's epoch-ms stage
times. While a span is open its name is the Spark job description and its
id the `perfbench.span` local property, so every job the span submits can
be mapped back to it from the event log. Spans stay in memory until
`dump()` writes them out at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float
    run_id: str


class Tracer:
    """Records spans when enabled; `span()` is a no-op context otherwise,
    so workload code is the same with tracing on and off."""

    def __init__(self, run_id: str, enabled: bool, spark_context=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._next_id = 1

    def _label_jobs(self, top: tuple[int, str] | None) -> None:
        if self.sc is None:
            return
        self.sc.setJobDescription(top[1] if top else None)
        self.sc.setLocalProperty(SPAN_PROPERTY,
                                 str(top[0]) if top else None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._label_jobs(self._stack[-1])
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._label_jobs(self._stack[-1] if self._stack else None)
            self.spans.append(Span(sid, name, parent, start, end,
                                   self.run_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part covered by its
    direct children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.id, ())]
        covered = union_length([k for k in kids if k[1] > k[0]])
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of intervals that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]
