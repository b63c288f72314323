"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent span and the id of the operation it
belongs to (children inherit it). Spans are kept in memory and written out
once, when the run ends. Self time is a span's duration minus the time its
child spans cover; the benchmark is single-threaded, so children never
overlap and that is a plain subtraction.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the block as span `name`. `op` starts a new operation id;
        nested spans inherit their parent's."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = (
                    child_cover.get(s["parent"], 0.0) + s["end"] - s["start"])
        return {s["id"]: s["end"] - s["start"] - child_cover.get(s["id"], 0.0)
                for s in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = sorted(
            ({**s, "start": s["start"] - t0, "end": s["end"] - t0,
              "self": selfs[s["id"]]} for s in self.spans),
            key=lambda s: s["start"])
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)
