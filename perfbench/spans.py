"""Spans and Spark counters recorded from outside the engine.

A span covers one call into an engine module, or one Spark action that
executes a plan an engine builder returned (the builders are lazy, so a
builder call alone does no work). Each span runs its Spark jobs under its
own job group; when the span ends, the per-stage task counters of those jobs
are read from Spark's status store, which serves them with the UI off.
Spans are kept in memory and written to a side file when the run ends.

``instrument`` wraps the callees of ``plans.pipeline.run_pipeline`` so that
its writes, collects and lineage calls get spans of their own. Nothing under
``diive_spark/`` is edited: the wrappers replace class attributes for the
duration of one traced op and are removed after it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

#: Spark task counters summed per span (run.LAYER_COUNTERS picks the ones
#: reported as per-layer metrics; the side file has them all).
SPARK_COUNTERS = ("tasks", "failed_tasks", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run: spans cost one generator step and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    @contextlib.contextmanager
    def op(self, index: int):
        yield


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1
        self._jvm_store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_statuses = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    @contextlib.contextmanager
    def op(self, index: int):
        """Attribute the spans opened inside to op ``index``."""
        prev, self._op = self._op, index
        try:
            yield
        finally:
            self._op = prev

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self.current()
        s = Span(len(self.spans), name, parent.id if parent else None, self._op,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.spark = self._spark_counters(self._group(s))

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    def _spark_counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out.update(input_records=0.0, skew=0.0)
        worst_shuffle = -1.0
        for sid in sorted(stage_ids):
            attempts = self._jvm_store.stageData(
                sid, False, self._no_statuses, False, self._no_quantiles)
            for i in range(attempts.length()):
                sd = attempts.apply(i)
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                shuffle = float(sd.shuffleWriteBytes())
                out["shuffle_write_bytes"] += shuffle
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_records"] += sd.inputRecords()
                if shuffle > worst_shuffle and sd.numCompleteTasks() > 0:
                    worst_shuffle = shuffle
                    out["skew"] = self._task_skew(sid, sd.attemptId())
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """Max over median task run time of one stage."""
        tasks = self._jvm_store.taskList(stage_id, attempt, 100000)
        runs = []
        for i in range(tasks.length()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        if not runs:
            return 0.0
        runs.sort()
        med = runs[len(runs) // 2]
        return max(runs) / med if med > 0 else float(len(runs) > 0)

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return s.dur - covered

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
             "start_s": s.start - t0, "dur_s": s.dur, "self_s": self.self_time(s),
             "attrs": s.attrs, "spark": s.spark}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)


def _files_written_since(path: str, t_wall: float) -> int:
    n = 0
    for d, _, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            if os.path.getmtime(os.path.join(d, name)) >= t_wall:
                n += 1
    return n


_WRITE_LAYER = {"1m": "resample.rollup", "1h": "resample.reaggregate",
                "1d": "resample.reaggregate", "packed": "gorilla.pack"}


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap run_pipeline's callees and actions with spans for one traced op.

    Inside a ``pipeline.run`` span:
    - the write of ``tier=1m`` executes the ``resample.rollup`` plan, the
      1h/1d writes the ``resample.reaggregate`` plans and the ``tier=packed``
      write the ``gorilla.pack_blocks`` plan; each is a span of that name
      tagged ``kind=write`` with the number of files it wrote;
    - the first collect (before lineage is consulted) is the date discovery,
      later collects and counts read the written tiers back;
    - ``LineageStore.pending`` and ``commit`` are spans of their own.
    """
    from pyspark.sql import DataFrameWriter

    from diive_spark.plans.lineage import LineageStore

    try:  # Spark 4 runs the classic subclass's own collect/count
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    saved = [
        (DataFrameWriter, "parquet", DataFrameWriter.parquet),
        (DataFrame, "collect", DataFrame.collect),
        (DataFrame, "count", DataFrame.count),
        (LineageStore, "pending", LineageStore.pending),
        (LineageStore, "commit", LineageStore.commit),
    ]

    def in_pipeline() -> bool:
        cur = tracer.current()
        return cur is not None and cur.name == "pipeline.run"

    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if not in_pipeline():
            return orig_parquet(self, path, *args, **kwargs)
        tier = path.rstrip("/").rsplit("tier=", 1)[-1] if "tier=" in path else None
        t_wall = time.time() - 1.0  # mtime granularity margin
        with tracer.span(_WRITE_LAYER.get(tier, "pipeline.write_other"),
                         kind="write", tier=tier) as s:
            out = orig_parquet(self, path, *args, **kwargs)
        s.attrs["files"] = _files_written_since(path, t_wall)
        return out

    def action(orig, name):
        def wrapped(self, *args, **kwargs):
            if not in_pipeline():
                return orig(self, *args, **kwargs)
            run = tracer.current()
            discovered = run.attrs.get("pending_done", False)
            span = "pipeline.readback" if discovered else "pipeline.date_discovery"
            with tracer.span(span, action=name):
                return orig(self, *args, **kwargs)
        return wrapped

    orig_pending, orig_commit = LineageStore.pending, LineageStore.commit

    def pending(self, *args, **kwargs):
        run = tracer.current()
        with tracer.span("lineage.pending"):
            out = orig_pending(self, *args, **kwargs)
        if run is not None:
            run.attrs["pending_done"] = True
        return out

    def commit(self, *args, **kwargs):
        with tracer.span("lineage.commit"):
            return orig_commit(self, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    DataFrame.collect = action(DataFrame.collect, "collect")
    DataFrame.count = action(DataFrame.count, "count")
    LineageStore.pending = pending
    LineageStore.commit = commit
    try:
        yield
    finally:
        for owner, name, orig in saved:
            setattr(owner, name, orig)
