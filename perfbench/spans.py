"""In-memory spans around the benchmark's calls into each layer.

A span records ``(name, op, parent, start, end)``; spans of one op share the
op id.  While a span is open its Spark jobs run under the job group
``op<id>/<name>``, so the status store can say which layer ran which jobs.
Spans are kept in a list and written out once, at the end of the run.  A
``Tracer`` built without a session records nothing.
"""

from __future__ import annotations

import json
import pathlib
import time
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


def group_of(span: dict) -> str:
    return f"op{span['op']}/{span['name']}"


class Tracer:
    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    @contextmanager
    def span(self, name: str, op: int):
        """Time the body as span ``name`` of op ``op``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op, "parent": parent["name"] if parent else None}
        sc = self.spark.sparkContext
        sc.setLocalProperty(JOB_GROUP, group_of(rec))
        self._stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            sc.setLocalProperty(JOB_GROUP, group_of(parent) if parent else None)
            self.spans.append(rec)

    def write(self, path: pathlib.Path) -> None:
        keep = ("name", "op", "parent", "start", "end")
        path.write_text(json.dumps([{k: s[k] for k in keep} for s in self.spans]))
