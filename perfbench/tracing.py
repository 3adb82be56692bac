"""In-memory spans and counters of the traced run.

A span is opened under a layer name (the module it times) and an optional
parent span; ``timed`` runs a block inside it, tags every Spark job the
block starts with the span id (so the event log can attribute task and SQL
metrics to it), and records its duration.  Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from eventlog import SPAN_PROPERTY


class Tracer:
    def __init__(self, spark, prefix: str = ""):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}

    def open(self, name: str, parent: dict | None = None) -> dict:
        span = {
            "id": f"{self.prefix}s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "blocking": False,
            "start": None,
            "dur": 0.0,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def timed(self, span: dict, blocking: bool = False):
        """Time the block as ``span``; a blocking span is one of the steps
        an untraced pass runs, so their durations add up to a pass."""
        span["blocking"] = blocking
        outer = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, span["id"])
        span["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["dur"] = time.perf_counter() - t0
            self.sc.setLocalProperty(SPAN_PROPERTY, outer)

    def count(self, name: str, value: float) -> None:
        self.counters[name] = value

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value
