"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and run id; spans stay in
memory and are written out when the run ends. Self time is a span's
duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans; ``on_enter`` / ``on_exit`` let the caller tag the
    work inside a span (the benchmark sets a Spark job group)."""

    def __init__(self, run_id: str, on_enter=None, on_exit=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    def group_of(self, span: Span) -> str:
        return f"{self.run_id}/{span.span_id}/{span.name}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None,
                 self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(self.group_of(s))
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(self.group_of(parent) if parent else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def totals_by_name(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, summed wall and summed self time."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
        t["calls"] += 1
        t["wall_s"] += s.duration
        t["self_s"] += st[s.span_id]
    return out
