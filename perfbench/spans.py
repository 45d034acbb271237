"""In-memory spans for the traced run.

A span is (id, name, parent id, operation id, start, end), times in
epoch seconds.  Each span tags the Spark jobs it starts with a job
group named after it, so job, stage and task counts attach to spans.
Spans stay in memory until :meth:`Tracer.write` at the end of the run.
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
    parent: int | None
    op: int
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.name}#{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` that the union of ``intervals`` covers."""
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


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the time its direct children cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)


class Tracer:
    """Records spans; ``sc`` (a SparkContext) is optional so the span
    bookkeeping can be tested without Spark."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            op = self._next_op
            self._next_op += 1
        else:
            op = parent.op
        s = Span(len(self.spans), name, parent.id if parent else None, op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, span: Span) -> list[Span]:
        """The span and every span below it."""
        out, frontier = [span], [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out += kids
            frontier = [s.id for s in kids]
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        rows = [
            dict(asdict(s), group=s.group, self_s=self_time(s, self.spans))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f, indent=1)
