"""Spans recorded around calls into the program's layers.

A span has a name, start, end, parent span and the run id.  Spans stay
in memory and are written out once, when the run ends.  While a span
is open, every Spark job the driver thread submits carries the span id
as its job group, so the event-log reducer (``eventlog.py``) can sum
task metrics per span after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

from opentimes_spark.operators.matrix import HaversineRouter


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    gc_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark`` given, tags Spark jobs by span and
    records the JVM's garbage-collection time inside each span."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def jvm_gc_seconds(self) -> float:
        """Total collection time of every JVM collector so far.  In
        local mode the executors run inside the driver JVM, so this
        covers task work too."""
        if self.spark is None:
            return 0.0
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{name}#{len(self.spans)}", name, parent and parent.id, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s.id)
        gc0 = self.jvm_gc_seconds()
        try:
            yield s
        finally:
            s.gc_s = self.jvm_gc_seconds() - gc0
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1].id if self._stack else None)

    def _tag(self, span_id: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span_id, span_id)

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its direct children cover
        (children of one span never overlap: the driver is one thread)."""
        kids = sum(c.seconds for c in self.spans if c.parent == span.id)
        return span.seconds - kids

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.named(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=self.self_seconds(s)) for s in self.spans],
                fh,
                indent=1,
            )


class CountingRouter(HaversineRouter):
    """The program's mock router, counting table requests and the O×D
    cells they cover into two Spark accumulators."""

    def __init__(self, calls, cells):
        super().__init__()
        self._calls, self._cells = calls, cells

    def table(self, o_ids, o_lon, o_lat, d_ids, d_lon, d_lat):
        self._calls.add(1)
        self._cells.add(len(o_ids) * len(d_ids))
        return super().table(o_ids, o_lon, o_lat, d_ids, d_lon, d_lat)
