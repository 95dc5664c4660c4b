"""Spans around calls into the engine, and Spark's own task counters for
the jobs each call launched.

The tracer is only installed in traced runs (``--trace 1``). It wraps a
fixed list of package functions from the outside (the engine is not
edited), keeps every span in memory and writes them as one JSON file when
the run ends.

Spark counters are read from the driver's status store
(``SparkContext.statusStore``), which answers with ``spark.ui.enabled=false``.
Every job whose id appeared during a call is attributed to that call, so jobs
launched from the engine's own worker threads (compaction's thread pool
carries no job group) are counted too.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

from perfbench import stats

SPARK_SET = (
    "cpu_s",
    "run_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "driver_gap_s",
    "jobs",
    "tasks",
)


class SparkCounters:
    """Task counters summed over the jobs that started since a mark."""

    def __init__(self, sc) -> None:
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_job = 0
        self.mark()

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: no such job yet
            return None

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()

    def mark(self) -> int:
        """Id of the first job that has not started yet."""
        self._drain()
        while self._job(self._next_job) is not None:
            self._next_job += 1
        return self._next_job

    def read(self, first_job: int, wall_start: float, wall_end: float) -> dict:
        self._drain()
        out = dict.fromkeys(SPARK_SET, 0.0)
        intervals = []
        job_id = first_job
        while (job := self._job(job_id)) is not None:
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                s = self._store.lastStageAttempt(stage_ids.apply(i))
                out["tasks"] += s.numCompleteTasks()
                out["run_s"] += s.executorRunTime() / 1e3
                out["cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
                sub, done = s.submissionTime(), s.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            job_id += 1
        self._next_job = max(self._next_job, job_id)
        out["driver_gap_s"] = stats.driver_gap(wall_start, wall_end, intervals)
        return out


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    cycle: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


class Tracer:
    """In-memory span recorder.

    A workload operation opens a root span with :meth:`op`; calls into the
    engine made while it is open (from any thread) become its descendants.
    Times are wall-clock epoch seconds so they line up with Spark's stage
    timestamps.
    """

    def __init__(self, counters: SparkCounters | None = None) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self.cycle = 0
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: Span | None = None
        self._patches: list[tuple[Any, str, Any]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, op_id: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        with self._lock:
            span = Span(
                span_id=len(self.spans),
                name=name,
                op_id=op_id or (parent.op_id if parent else ""),
                cycle=self.cycle,
                parent=parent.span_id if parent else None,
                start=time.time(),
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().remove(span)

    @contextmanager
    def op(self, name: str, op_id: str):
        """One workload operation (a root span)."""
        self._op = self._open(name, op_id)
        try:
            yield self._op
        finally:
            self._close(self._op)
            self._op = None

    def _book(self, since: float) -> None:
        with self._lock:  # wrappers also run on the engine's worker threads
            self.bookkeeping_s += time.perf_counter() - since

    # -- wrapping ----------------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        spark: bool = False,
        attrs: Callable[[tuple, dict, Any], dict] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        :meth:`restore`. ``spark`` also reads Spark counters for the call;
        ``attrs(args, kwargs, result)`` adds counts taken from the result."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if tracer._op is None:  # outside workload operations, e.g. checks
                return orig(*args, **kwargs)
            t = time.perf_counter()
            span = tracer._open(name)
            first_job = tracer.counters.mark() if spark and tracer.counters else None
            tracer._book(t)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                tracer._close(span)
                t = time.perf_counter()
                if first_job is not None:
                    span.attrs.update(tracer.counters.read(first_job, span.start, span.end))
                if attrs is not None and result is not None:
                    span.attrs.update(attrs(args, kwargs, result))
                tracer._book(t)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- output ------------------------------------------------------------
    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, f)
