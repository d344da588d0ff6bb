"""Span recorder and Spark counters for the traced benchmark run.

Spans are recorded by the benchmark around its calls into the engine's
layer functions; the engine itself is not instrumented. Spark plans are
lazy, so a traced call materializes its layer's output at the span
boundary with an eager ``localCheckpoint`` — otherwise the layer's work
would run, and be billed, inside whichever later span first consumed it.
The untraced run uses :class:`NullTracer`, whose boundary is the
identity, so the end-to-end numbers see the plan the user would run.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from collections.abc import Iterator
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class NullTracer:
    """Tracing off: no spans, no materialization."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield

    def boundary(self, df: DataFrame) -> DataFrame:
        return df

    def add(self, name: str, start: float, end: float) -> None:
        pass


class Tracer(NullTracer):
    """Keeps spans in memory; :meth:`dump` writes them out at the end."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def boundary(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a finished span reported by Spark itself (e.g. a
        streaming trigger phase) under the currently open span."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(len(self.spans), name, start, end, parent, self.run_id))

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part of it that its child
        spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def self_time_by(self, key) -> dict[str, float]:
        """Total self time grouped by ``key(span_name)``."""
        totals: dict[str, float] = defaultdict(float)
        for sid, t in self.self_times().items():
            totals[key(self.spans[sid].name)] += t
        return dict(totals)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        doc = {
            "run_id": self.run_id,
            "self_s_by_layer": self.self_time_by(layer_of),
            "self_s_by_span": self.self_time_by(lambda n: n),
            "spans": [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def layer_of(span_name: str) -> str:
    """``"windows.sliding_sax"`` -> ``"windows"``."""
    return span_name.split(".", 1)[0]


class SparkCounters:
    """Shuffle bytes written and tasks run, read from Spark's own status
    store (the data behind the web UI's stage table), for the stages
    submitted since the last :meth:`take`."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        # AppStatusStore.stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus): Scala defaults are not visible
        # through py4j, so every argument is passed
        self._args = (None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
        self._seen = -1
        self.take()

    def take(self) -> tuple[int, int]:
        """``(shuffle_write_bytes, completed_tasks)`` of the stages
        submitted since the last call."""
        # events reach the status store asynchronously on the listener bus
        self._sc.listenerBus().waitUntilEmpty()
        stages = self._sc.statusStore().stageList(*self._args)
        shuffle = tasks = 0
        top = self._seen
        for i in range(stages.size()):  # newest stage first
            s = stages.apply(i)
            if s.stageId() <= self._seen:
                break
            shuffle += s.shuffleWriteBytes()
            tasks += s.numCompleteTasks()
            top = max(top, s.stageId())
        self._seen = top
        return shuffle, tasks
