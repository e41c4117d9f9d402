"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded only from the benchmark's own files, around calls into
the program's public functions: each has a name, start, end, parent span
and op id, is kept in memory, and is written out when the run ends.
Counts come from Spark's status store (jobs, stages, tasks), the JVM's
GC beans, and a ``StreamingQueryListener`` (progress durations and state
operator metrics of each micro-batch).

With tracing off, ``Tracer.span`` is a no-op context manager and no
listener is registered, so untraced runs carry no tracing work.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import asdict, dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder; disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx].end = time.perf_counter()
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


class SparkCounters:
    """Exact job/stage/task counts and JVM GC time, read as deltas around
    one op. Waits for Spark's listener bus to drain first, so every job the
    op ran is in the status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._seen: set[int] = set()
        self._gc_prev = self._gc_s()
        self.snapshot()

    def _gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def snapshot(self) -> dict[str, float]:
        """Counts since the previous snapshot."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._sc.statusStore().jobsList(None)
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() in self._seen:
                continue
            self._seen.add(job.jobId())
            out["jobs"] += 1
            out["stages"] += job.stageIds().size()
            out["tasks"] += job.numTasks()
        gc = self._gc_s()
        out["gc_s"], self._gc_prev = gc - self._gc_prev, gc
        return out


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event, keyed by the query run."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()
        self.last_run: str | None = None
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.last_run = str(event.runId)
            self.progress.setdefault(self.last_run, [])

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def last_run_progress(self, timeout: float = 30.0) -> list[dict]:
        """Progress events of the most recently started query, once its
        termination event has arrived."""
        with self._cv:
            self._cv.wait_for(lambda: self.last_run in self.terminated, timeout)
            return list(self.progress.get(self.last_run, []))


def print_layer_table(rows: list[tuple[str, str, float, str]], stream) -> None:
    """Human-readable per-layer table: layer, metric, value, moves."""
    width = max(len(r[1]) for r in rows)
    print(f"{'layer':<26} {'metric':<{width}} {'value':>14}  moves", file=stream)
    for layer, metric, value, moves in rows:
        print(f"{layer:<26} {metric:<{width}} {value:>14.4f}  {moves}", file=stream)
