"""Spans and Spark status-store counters, read from outside the program.

Jobs are counted by the delta of job ids in Spark's status store, not by
job group: ``io.write_reports_concurrent`` submits from pool threads,
which do not inherit the caller's job group. Stage metrics come from
``lastStageAttempt`` (``stageData`` fails through py4j on Spark 4.1).
The status listener is asynchronous, so every read first drains the
listener bus.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1e6

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "peak_exec_mem_mb",
)


class SparkCounters:
    """Counters of all jobs that ended since the last :meth:`take`."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._next_job = 0
        self.take()  # start after whatever already ran in this context

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def take(self) -> dict[str, float]:
        """Sum the stage metrics of every job since the previous call.
        Skipped stages (reused shuffle output) did no work and are not
        counted."""
        self._drain()
        store = self._sc.statusStore()
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        seen: set[int] = set()
        while True:
            try:
                job = store.job(self._next_job)
            except Py4JJavaError:  # no such job yet: the delta is complete
                break
            self._next_job += 1
            out["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["peak_exec_mem_mb"] = max(
                    out["peak_exec_mem_mb"], st.peakExecutionMemory() / MB
                )
        return out


def storage(spark) -> tuple[float, int]:
    """(MB of cached blocks held in memory and on disk, RDDs marked
    persistent) for the whole context."""
    sc = spark.sparkContext._jsc.sc()
    held = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo())
    return held / MB, sc.getPersistentRDDs().size()


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    span_id: int = 0
    attrs: dict = field(default_factory=dict)
    own: dict = field(default_factory=lambda: dict.fromkeys(COUNTER_KEYS, 0.0))
    overhead: float = 0.0  # the tracer's own bookkeeping between children

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans of one run. Spark jobs are attributed to the
    innermost open span; :meth:`counters` adds a span's children.
    Written out by :meth:`dump` when the run ends."""

    def __init__(self, run_id: str, counters: SparkCounters):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._counters = counters
        self._stack: list[int] = []

    def _take_into(self, target: Span | None) -> None:
        got = self._counters.take()
        if target is not None:
            own = target.own
            for k, v in got.items():
                own[k] = max(own[k], v) if k == "peak_exec_mem_mb" else own[k] + v

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.spans[self._stack[-1]] if self._stack else None
        t0 = time.perf_counter()
        self._take_into(parent)  # jobs so far ran in the parent
        s = Span(
            name,
            time.perf_counter(),
            parent=parent.span_id if parent else None,
            span_id=len(self.spans),
            attrs=dict(attrs),
        )
        if parent is not None:
            parent.overhead += s.start - t0
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._take_into(s)
            if parent is not None:
                parent.overhead += time.perf_counter() - s.end

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.span_id]

    def counters(self, s: Span) -> dict[str, float]:
        """Counters of the jobs inside ``s``, its children included."""
        out = dict(s.own)
        for c in self.children(s):
            for k, v in self.counters(c).items():
                out[k] = max(out[k], v) if k == "peak_exec_mem_mb" else out[k] + v
        return out

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover and the
        tracer's own bookkeeping."""
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted((c.start, c.end) for c in self.children(s)):
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.duration - covered - s.overhead

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                rec = {
                    "run_id": self.run_id,
                    "span_id": s.span_id,
                    "parent": s.parent,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_time(s),
                    "tracer_s": s.overhead,
                    **s.attrs,
                    **self.counters(s),
                }
                f.write(json.dumps(rec, default=str) + "\n")
