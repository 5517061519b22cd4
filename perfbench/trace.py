"""In-memory span tracer and the per-layer self-time reducer.

A span is ``(id, parent, run, name, layer, start, end, attrs)``. Spans are
appended to a list while the run executes and written out once at the
end. A span's self time is its duration minus the union of its
children's intervals; a layer's self time is the sum over its spans.

The disabled tracer (``Tracer(enabled=False)``) keeps the same interface
but records nothing, so measured runs pay one attribute check per
boundary call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    run: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # seconds spent inside the tracer's own bookkeeping (span records
        # and counter snapshots taken under it), i.e. what tracing adds
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.run_id, name, layer, 0.0, 0.0, attrs)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - s.end

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover (clipped to
    the span's own interval)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        inner = [
            (max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, []) if b > s.start and a < s.end
        ]
        out[s.id] = max(0.0, (s.end - s.start) - _covered(inner))
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.id]
    return dict(out)
