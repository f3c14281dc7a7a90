"""In-memory spans and counters recorded around the engine's public calls.

A ``Tracer`` built with ``enabled=False`` records nothing and runs no extra
engine calls: the untraced run measures the end-to-end metrics, a separate
traced run gives the per-layer numbers.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict


def quantile(values: list[float], q: float) -> float:
    """Linearly interpolated quantile, ``q`` in [0, 1]; 0.0 for no values."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        """Time the block; with tracing on, keep it as a span whose parent
        is the enclosing span."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "request": request, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(value)

    def write(self, path: str, summary: dict) -> None:
        """Write spans, counters and samples as one JSON document."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans,
                       "counters": dict(self.counters),
                       "samples": dict(self.samples)}, f)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
