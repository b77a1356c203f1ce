"""In-memory span tracer for the traced benchmark run.

A span records (id, name, layer, parent, start, end) around one call
into a layer of the program. Spans live in memory and are written as
one JSON file when the run ends. A layer's self time is the duration of
its spans minus the part covered by their child spans.

The tracer also times its own bookkeeping (span entry and exit, counter
reads) so the run can report the tracing overhead it measured.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str):
        """Record a span around the body (a no-op when disabled)."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    @contextmanager
    def bookkeeping(self):
        """Time work done only for tracing (e.g. counter reads) as
        tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Self time per layer, summed over all spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_s": self.self_times(),
                       "overhead_s": self.overhead_s}, f)
