"""In-memory spans and per-span Spark counters for the traced run.

A span is ``(op, name, parent, start, end)``; spans of one op share the op
id. Spark work is attributed to a span by running it under its own job
group, then reading job, stage and task counts plus run time, shuffle,
spill and GC from Spark's status store once the op has finished.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_busy_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
)


@dataclass
class Span:
    op: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records op spans only while ``enabled`` (otherwise :meth:`span` just
    runs the body); :meth:`record` adds set-up spans measured by the caller."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, op: str, name: str, *, job_group: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].name if self._stack else None
        s = Span(op, name, parent, time.perf_counter())
        if job_group:
            s.group = f"bench:{op}:{name}:{len(self.spans)}"
            self.spark.sparkContext.setJobGroup(s.group, s.name)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if job_group:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def record(self, op: str, name: str, start: float, end: float) -> None:
        """Add a finished top-level span measured by the caller."""
        self.spans.append(Span(op, name, None, start, end))

    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def collect_counters(self, op: str) -> None:
        """Fill ``counters`` of every job-grouped span of ``op``. Called after
        the op's span has closed, so the wait for the listener is not timed."""
        sc = self.spark.sparkContext
        _wait_for_listener(sc)
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in self.op_spans(op):
            if s.group is not None:
                s.counters = _group_counters(tracker, store, s.group)

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part covered by its direct children."""
        kids = [k for k in self.op_spans(span.op) if k.parent == span.name and k is not span]
        return span.seconds - sum(k.seconds for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _wait_for_listener(sc, timeout_ms: int = 10_000) -> None:
    # Status-store updates arrive through the listener bus asynchronously.
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _group_counters(tracker, store, group: str) -> dict:
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    busy_ms = gc_ms = 0
    shuffle_w = shuffle_r = spill = 0
    stage_ids = set()
    job_ids = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(job_ids)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        for st in _stage_attempts(store, sid):
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            out["failed_tasks"] += st.numFailedTasks()
            busy_ms += st.executorRunTime()
            gc_ms += st.jvmGcTime()
            shuffle_w += st.shuffleWriteBytes()
            shuffle_r += st.shuffleReadBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    out["task_busy_s"] = busy_ms / 1e3
    out["gc_s"] = gc_ms / 1e3
    out["shuffle_write_mb"] = shuffle_w / 2**20
    out["shuffle_read_mb"] = shuffle_r / 2**20
    out["spill_mb"] = spill / 2**20
    return out


def _stage_attempts(store, stage_id: int):
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        # stageData(id, details, taskStatus, withSummaries, quantiles)
        seq = store.stageData(
            stage_id, False, gw.jvm.java.util.ArrayList(), False, gw.new_array(gw.jvm.double, 0)
        )
    except Py4JJavaError:  # stage evicted from the store or never submitted
        return []
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
