"""In-memory spans around the benchmark's calls into the program.

A span is (id, parent, layer, name, start, end). Spans stay in memory
and are written out once, when the run ends. A layer's self time is the
total duration of its spans minus the part of each span that its child
spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

import numpy as np


def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) by linear interpolation."""
    if len(values) == 0:
        raise ValueError("percentile of no samples")
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "layer": layer, "name": name, "start": time.perf_counter(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (a Spark trigger phase, a
        producer append) with explicit perf_counter start and end."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "layer": layer,
                           "name": name, "start": start, "end": end, **attrs})
        return sid

    def self_ms(self) -> dict[str, float]:
        """Self time per layer, in milliseconds."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cur_end = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if cur_end is not None:
                    lo = max(lo, cur_end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            own = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + own * 1000.0
        return out

    def durations_ms(self, layer: str, name: str | None = None) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans
                if s["layer"] == layer and (name is None or s["name"] == name)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def span_cost_us(n: int = 20000) -> float:
    """Measured cost of opening and closing one span, in microseconds."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n * 1e6
