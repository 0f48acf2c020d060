"""Spans around the benchmark's calls into each layer, and the Spark work
they caused.

A span records its name, start, end, parent span and operation id (a date
or a query). Spans live in memory until the run ends. Spark jobs are
tied to spans through one job group per span; jobs that Spark runs on its
own threads (the streaming micro-batches) carry another group and are tied to
the innermost span open when they were submitted. Job, stage and task counts,
shuffle-write and spill bytes are read once at the end from Spark's status
store, which is kept with the UI off.

With tracing off, ``span`` only yields: no job groups, no records.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str  # "<layer>" or "<layer>:<call>"
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(":")[0]

    @property
    def call(self) -> str:
        return self.name.split(":")[1] if ":" in self.name else ""


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # wall time spent in the tracer's own bookkeeping, measured directly
        self.overhead_s = 0.0

    def _group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        """Time the block as a child of the innermost open span; its Spark jobs
        run under the span's own job group. Yields the Span (None when off)."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.op if parent else None,
                 parent.sid if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            self.overhead_s += time.perf_counter() - s.end

    # ------------------------------------------------------------ harvest --

    def harvest(self, wall_offset: float) -> None:
        """Tie Spark jobs to spans and add their stage totals to each span.

        ``wall_offset`` converts perf_counter to epoch seconds
        (time.time() - time.perf_counter() taken at one instant)."""
        if not self.enabled:
            return
        self.drain()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        by_group = {f"pb-{s.sid}": s for s in self.spans}
        stage_span: dict[int, Span] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            span = by_group.get(group)
            if span is None and j.submissionTime().isDefined():
                t = j.submissionTime().get().getTime() / 1000.0 - wall_offset
                span = self._innermost(t)
            if span is None:
                continue
            span.jobs.append(j.jobId())
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_span[int(ids.apply(k))] = span
        gw = self.spark.sparkContext._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            span = stage_span.get(st.stageId())
            if span is None or st.status().toString() == "SKIPPED":
                continue
            c = span.counts
            c["stages"] = c.get("stages", 0) + 1
            c["tasks"] = c.get("tasks", 0) + st.numTasks()
            c["shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0) + st.shuffleWriteBytes()
            c["spill_bytes"] = (c.get("spill_bytes", 0) + st.memoryBytesSpilled()
                                + st.diskBytesSpilled())

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every queued event."""
        if not self.enabled:
            return
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private in Scala; fall back to a short drain wait
            time.sleep(1.0)

    def _innermost(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    # ------------------------------------------------------------- report --

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
        return {s.sid: (s.end - s.start) - child_cover.get(s.sid, 0.0) for s in self.spans}

    def dump(self) -> list[dict]:
        selft = self.self_times()
        return [
            {"sid": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": selft[s.sid],
             "jobs": len(s.jobs), **s.counts}
            for s in self.spans
        ]
