"""Spans around calls into the program's layers.

A span names one layer call, times it and runs it under a Spark job
group of its own, so the Spark work it caused can be read back from
the status stores afterwards. Spans stay in memory; the benchmark
reduces them when it ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str  # the Spark job group the call ran under
    trace_id: int  # the repetition that made the call
    start: float = 0.0
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    trace_id: int = 0
    _ids: itertools.count = field(default_factory=itertools.count)

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    @contextmanager
    def span(self, name: str):
        """Time the body and run its Spark jobs under a fresh job group.
        Spans do not nest: each layer call is made from the benchmark."""
        sc = self.spark.sparkContext
        s = Span(name, f"perfbench:{name}:{next(self._ids)}", self.trace_id)
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            sc._jsc.clearJobGroup()
            self.spans.append(s)

    def of_trace(self, trace_id: int) -> list[Span]:
        return [s for s in self.spans if s.trace_id == trace_id]
