"""Spans recorded from the benchmark's own code around calls into each layer.

A span is (name, query id, start, end, parent).  Spans are kept in memory
and written once, at the end of the run.  While a span is open in traced
mode, Spark jobs launched by the calling thread carry the job group
``<query id>|<span name>``, so the event log attributes every job, stage
and task to the query and layer that launched it.  With tracing off the
tracer records nothing and labels nothing, so untraced timings carry no
instrumentation.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Span names that launch Spark work from inside the registry call (the
# driver-side plan build, including eager pin and probe jobs); every other
# labelled span is execution of a built plan through a sink.
BUILD = "plans.build"


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext to label jobs on, set per session

    def _open(self, name: str, query: str, start: float) -> dict:
        rec = {
            "name": name,
            "query": query or (self.spans[self._stack[-1]]["query"] if self._stack else ""),
            "parent": self._stack[-1] if self._stack else None,
            "start": start,
            "end": None,
        }
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, query: str = "", label_jobs: bool = False):
        if not self.enabled:
            yield
            return
        rec = self._open(name, query, time.perf_counter())
        self._stack.append(len(self.spans) - 1)
        if label_jobs:
            self.sc.setJobGroup(f"{rec['query']}|{name}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if label_jobs:
                self.sc.setJobGroup("", "")

    def record(self, name: str, start: float, end: float) -> None:
        """Add a closed span after the fact, as a child of the open span."""
        if self.enabled:
            self._open(name, "", start)["end"] = end

    def total(self, name: str, prefix: str) -> float:
        """Summed duration of spans called ``name`` whose query starts with
        ``prefix``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["query"].startswith(prefix) and s["end"]
        )

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
