"""In-memory spans around the benchmark's calls into each layer.

A span records its name, layer, start, end, parent span and trace id (the
micro-batch epoch or the query name), so that all spans of one batch or
query can be grouped. Spans stay in memory and are written once, when the
benchmark ends. With tracing disabled `span` costs one attribute test.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._clock = clock
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str | int | None = None):
        """Record one span; nested spans in the same thread become children."""
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace_id": str(trace_id if trace_id is not None
                            else (parent["trace_id"] if parent else "")),
            "name": name,
            "layer": layer,
            "start": self._clock(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = self._clock()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time in seconds: each span's duration minus the part of
    its interval that its child spans cover, summed by layer."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["layer"]] += dur - _covered(children.get(s["id"], []), s["start"], s["end"])
    return dict(out)
