"""Outside-in tracing for the benchmark's traced run.

Nothing in ``movex_cdc_spark`` is changed. ``Tracer.install`` wraps the
public entry points of each layer (the functions the streaming shell
calls) and records one span per call: name, start, end, parent and
trace id. The trace id is ``(stream_id, epoch_id)``. A call that
opens a thread's span stack takes it from its own arguments, so calls
on dispatch and dead-letter threads attribute to the right epoch. A
nested call inherits it from its parent. ``Tracer.uninstall`` restores
every wrapped attribute.

Spark is lazy: a span contains the jobs its call triggers. For
example, the LWW aggregate executes inside ``LakeTable.merge``'s write
job, so it is counted in ``lake.merge``.

The second half reads Spark's own status store (available with the
UI disabled) for the jobs, tasks, shuffle bytes, spill and executor
run time submitted inside a time window.
"""

from __future__ import annotations

import functools
import inspect
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # wall clock, seconds since the epoch
    end: float
    parent: int | None
    trace: tuple[str, int] | None
    result: object = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: list[tuple[str, float]] = field(default_factory=list)  # (name, wall time)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap_span(self, name: str, fn, keep_result: bool = False):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else None
            if parent is not None:
                trace = self.spans[parent].trace
            else:
                bound = sig.bind_partial(*args, **kwargs).arguments
                sid, eid = bound.get("stream_id"), bound.get("epoch_id")
                trace = (sid, int(eid)) if sid is not None and eid is not None else None
            span = Span(name, time.time(), 0.0, parent, trace)
            with self._lock:
                self.spans.append(span)
                idx = len(self.spans) - 1
            stack.append(idx)
            try:
                out = fn(*args, **kwargs)
                if keep_result:
                    span.result = out
                return out
            finally:
                stack.pop()
                span.end = time.time()

        return wrapper

    def _wrap_count(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self._lock:
                self.counts.append((name, time.time()))
            return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer entry points. The streaming shell imported
        ``apply_batch``/``apply_batch_flagged`` by name, so its module
        bindings are wrapped too."""
        from movex_cdc_spark.lake import fs as lake_fs
        from movex_cdc_spark.lake.mor import MergeOnReadTable
        from movex_cdc_spark.lake.table import LakeTable
        from movex_cdc_spark.operators import apply as ops
        from movex_cdc_spark.streaming import lineage, pipeline

        for fn in ("apply_batch", "apply_batch_flagged"):
            wrapper = self._wrap_span("operators.apply", ops.__dict__[fn])
            for mod in (ops, pipeline):
                self._patch(mod, fn, wrapper)
        self._patch(LakeTable, "merge",
                    self._wrap_span("lake.merge", LakeTable.merge, keep_result=True))
        self._patch(MergeOnReadTable, "merge",
                    self._wrap_span("lake.mor_append", MergeOnReadTable.merge))
        self._patch(MergeOnReadTable, "compact",
                    self._wrap_span("lake.mor_compact", MergeOnReadTable.compact))
        self._patch(ops.DeadLetterTable, "append",
                    self._wrap_span("lake.dead_letter_append", ops.DeadLetterTable.append,
                                    keep_result=True))
        for fn in ("append", "flush"):
            self._patch(lineage.MetricsTable, fn,
                        self._wrap_span("streaming.metrics_append",
                                        lineage.MetricsTable.__dict__[fn]))
        self._patch(lake_fs.LocalFS, "read_text",
                    self._wrap_count("lake.meta_read", lake_fs.LocalFS.read_text))
        for fn in ("create_exclusive_text", "replace_text", "remove", "rmtree"):
            self._patch(lake_fs.LocalFS, fn,
                        self._wrap_count("lake.fs_mutation", lake_fs.LocalFS.__dict__[fn]))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------- analysis
    def in_epochs(self, epochs: set[int]) -> list[Span]:
        return [s for s in self.spans if s.trace is not None and s.trace[1] in epochs]

    def count_between(self, name: str, t0: float, t1: float) -> int:
        return sum(1 for n, t in self.counts if n == name and t0 <= t <= t1)


def union_wall(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, t0: float, t1: float) -> list[tuple[float, float]]:
    return [(max(s, t0), min(e, t1)) for s, e in intervals if e > t0 and s < t1]


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    return (span.end - span.start) - union_wall(
        clip([(c.start, c.end) for c in children], span.start, span.end)
    )


# ------------------------------------------------------- Spark jobs
def spark_job_stats(spark, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Sum job/stage metrics over jobs SUBMITTED inside any window
    (wall-clock seconds). Skipped stages (shuffle reuse) count no
    tasks: only stage attempts the store holds are summed."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    stages = {}
    empty = gw.new_array(jvm.double, 0)
    for st in conv.asJava(store.stageList(None, False, False, empty, None)):
        stages.setdefault(st.stageId(), []).append(st)
    out = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "spill_bytes": 0, "executor_run_s": 0.0}
    seen: set[int] = set()  # a later job lists its reused parent stages again
    for job in conv.asJava(store.jobsList(None)):
        sub = job.submissionTime()
        if sub.isEmpty():
            continue
        t = sub.get().getTime() / 1000.0
        if not any(t0 <= t <= t1 for t0, t1 in windows):
            continue
        out["jobs"] += 1
        for sid in conv.asJava(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, []):
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
    return out
