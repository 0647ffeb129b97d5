"""In-memory spans for the traced benchmark run.

A span records name, start, end, its parent span and the run id every
span of one run shares. While a span is open, the driver thread's Spark
job group is the span's id, so each job the span submits is attributed
to it; streaming queries run their jobs under their own run id as job
group, which the caller adds with ``Span.groups``. On close, the span
reads its jobs' stage counters from Spark's in-process status store
(``sc._jsc.sc().statusStore()``, which works with the UI disabled).

A disabled tracer does nothing: the end-to-end runs pay no tracing cost
and submit no extra jobs.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

COUNTERS = (
    "jobs",
    "job_s",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    groups: list[str] = field(default_factory=list)
    spark: dict = field(default_factory=dict)
    bookkeeping_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, 0.0, attrs=attrs)
        s.groups.append(f"{self.run_id}.{s.id}")
        self.spans.append(s)
        self._open.append(s)
        t0 = time.perf_counter()
        # The active context, looked up per span: set-up spans open
        # before the session exists and span session restarts.
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(s.groups[0], name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.setJobGroup(parent.groups[0] if parent else "", parent.name if parent else "")
                s.spark = self._counters(sc, s.groups)
            else:
                s.spark = dict.fromkeys(COUNTERS, 0)
            # Tracer work around this span: job-group calls and the
            # status-store reads. Inside the parent's interval, outside
            # this span's own.
            s.bookkeeping_s = (s.start - t0) + (time.perf_counter() - s.end)

    @staticmethod
    def _counters(sc, groups: list[str]) -> dict:
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for group in groups:
            for jid in tracker.getJobIdsForGroup(group):
                try:
                    job = store.job(jid)
                except Py4JJavaError:
                    continue  # evicted from the store's retained window
                out["jobs"] += 1
                if job.completionTime().isDefined():
                    out["job_s"] += (
                        job.completionTime().get().getTime()
                        - job.submissionTime().get().getTime()
                    ) / 1000
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    try:
                        st = store.lastStageAttempt(stage_ids.apply(i))
                    except Py4JJavaError:
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["executor_run_s"] += st.executorRunTime() / 1000
                    out["gc_s"] += st.jvmGcTime() / 1000
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    # -- aggregation over recorded spans ----------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its (non-overlapping, sequential)
        child spans cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def bookkeeping(self, span: Span) -> float:
        """Tracer time spent inside a span's interval (its descendants')."""
        return sum(c.bookkeeping_s + self.bookkeeping(c) for c in self.children(span))

    def inclusive(self, span: Span) -> dict:
        """Spark counters of a span and all its descendants."""
        total = dict(span.spark)
        for c in self.children(span):
            for k, v in self.inclusive(c).items():
                total[k] += v
        return total

    def dump(self, path) -> None:
        spans = [{**asdict(s), "self_s": self.self_seconds(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans}, f, indent=1)
