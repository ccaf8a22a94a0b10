"""In-memory spans around the benchmark's calls into the engine.

A span records name, start, end, parent and request id. Untraced runs use
the same spans for their timings; a traced run also tags every Spark job a
span starts with the span's job group, so `eventlog.py` can join the
event log's task metrics back to the span.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        # set to a SparkContext to tag jobs with the innermost open span's group
        self.spark_context = None
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @staticmethod
    def group_id(span: dict) -> str:
        return f"span-{span['id']}"

    def _tag(self, span: dict | None) -> None:
        sc = self.spark_context
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group_id(span), span["name"])

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._tag(parent)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def coverage(self, t0: float, t1: float) -> float:
        """Share of the interval [t0, t1] covered by top-level spans."""
        covered = sum(
            min(s["end"], t1) - max(s["start"], t0)
            for s in self.spans
            if s["parent"] is None and s["end"] > t0 and s["start"] < t1
        )
        return covered / (t1 - t0) if t1 > t0 else 0.0
