"""In-memory spans around calls into the program's layers.

A span has a name, a start and an end (epoch seconds, so they line up
with the Spark status store's millisecond timestamps), a parent and the
run id it belongs to. Spans stay in memory until the benchmark ends.

With tracing off, ``Tracer(enabled=False)`` still times the spans the
end-to-end metrics need, but records nothing else: no status-store reads
and no streaming listener.
"""

from __future__ import annotations

import datetime
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            run=run if run is not None else (parent.run if parent else ""),
            start=time.time(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out


class StatusStore:
    """Bulk reads of the Spark status store (works with the UI off).

    Each read serialises a whole list on the JVM side with Jackson and
    crosses py4j once, so reading costs one call however many stages ran.
    """

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    def _read(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def stages(self) -> list[dict]:
        st = self._store
        return self._read(st.stageList(None, False, False, getattr(st, "stageList$default$4")(), None))

    def jobs(self) -> list[dict]:
        return self._read(self._store.jobsList(None))

    def storage_bytes(self) -> int:
        """Memory plus disk bytes held by every persisted RDD."""
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self._read(self._store.rddList(True)))


def spark_counters(jobs: list[dict], stages: list[dict], start: float, end: float) -> dict:
    """Engine counters of the jobs and stages submitted within [start, end]."""
    lo, hi = start * 1000.0, end * 1000.0

    def inside(rec: dict) -> bool:
        t = rec.get("submissionTime")
        return t is not None and lo <= t <= hi

    js = [j for j in jobs if inside(j)]
    ss = [s for s in stages if inside(s) and s["status"] == "COMPLETE"]
    return {
        "jobs": len(js),
        "stages": len(ss),
        "tasks": sum(s["numCompleteTasks"] for s in ss),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ss),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in ss),
        "task_run_s": sum(s["executorRunTime"] for s in ss) / 1e3,
        "task_cpu_s": sum(s["executorCpuTime"] for s in ss) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in ss) / 1e3,
    }


def stream_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event's
    duration split; returns the list it appends to."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 (pyspark interface)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            ts = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            progress.append({
                "ts": ts.timestamp(),
                "name": p.name,
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_commit_ms": sum(op.commitTimeMs for op in p.stateOperators),
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    spark.streams.addListener(_Listener())
    return progress
