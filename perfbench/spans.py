"""In-memory spans recorded by the benchmark around calls into each layer.

A span is ``{id, name, start, end, parent, run_id}`` (times in seconds on
the run's monotonic clock); spans are kept in memory and written out as
JSON lines when the run ends. A disabled tracer records nothing, so the
untraced run executes the same code without the bookkeeping.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}  # attributes set on it go nowhere
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        """Median duration of the spans called ``name``; a layer that
        recorded no span is a bug in the benchmark, not a zero."""
        d = self.durations(name)
        if not d:
            raise KeyError(f"no span named {name!r} was recorded")
        return statistics.median(d)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
