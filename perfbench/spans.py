"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, parent span and the trace id of the pass
it belongs to. Spans are only kept in memory while the benchmark runs
and written out as JSON when it ends; self time (a span's duration minus
the part of it that its children cover) is derived from them.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

__all__ = ["Tracer", "self_times"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._trace = 0

    def new_trace(self) -> None:
        """Start a new trace id: one per pass over the input."""
        self._trace += 1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {"id": next(self._ids), "name": name, "trace": self._trace,
             "parent": parent["id"] if parent else None,
             "start": time.perf_counter(), "end": None}
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def write(self, path: str) -> None:
        spans = sorted(self.spans, key=lambda s: s["id"])
        selfs = self_times(spans)
        with open(path, "w") as f:
            json.dump([{**s, "self": selfs[s["id"]]} for s in spans], f, indent=1)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals,
    each clipped to the parent's own interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_end = 0.0, lo
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, hi)
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (hi - lo) - covered
    return out
