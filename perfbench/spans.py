"""In-memory spans around the calls the benchmark makes into each layer.

A span's layer is the first dotted component of its name
(``sources.decode`` -> ``sources``). Spans are kept in memory and written
once, at the end of the run. A span's self time is its duration minus the
time its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {"name": name, "layer": name.split(".")[0],
               "parent": None if parent is None else parent["id"],
               "trace": trace if trace is not None else
               (parent["trace"] if parent else None),
               "start_ns": time.perf_counter_ns(), "end_ns": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            stack.pop()

    def durations(self, name: str) -> list[float]:
        return [(s["end_ns"] - s["start_ns"]) / 1e9
                for s in self.spans if s["name"] == name and s["end_ns"]]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_seconds(self) -> dict[str, float]:
        """Layer -> summed self time of its spans."""
        child = defaultdict(int)
        for s in self.spans:
            if s["parent"] is not None and s["end_ns"]:
                child[s["parent"]] += s["end_ns"] - s["start_ns"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end_ns"]:
                out[s["layer"]] += (s["end_ns"] - s["start_ns"]
                                    - child[s["id"]]) / 1e9
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
