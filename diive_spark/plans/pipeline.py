"""The end-to-end rollup pipeline: raw token table -> 1m/1h/1d tiers ->
packed Gorilla blocks, partitioned by event-date, resumable from lineage.

Physical plan (SURVEY.md §4.3):
- Partition unit = event DATE. The pending dates come from
  ``LineageStore.pending`` without reading raw rows: each raw file's
  event-date range is read from its parquet footer (new or changed files
  only; the ranges are cached in lineage), and a date is pending when the
  (path, size, mtime) set of the files covering it differs from the one its
  latest lineage row recorded — a new date, or one a late file or an
  in-place rewrite reopened. A reopened date is recomputed from all of its
  raw files. Two fallbacks: raw input with no files (an in-memory frame)
  finds its dates with a ``distinct`` scan, and a new file whose footer has
  no ts_col min/max gets its range from one aggregate over such files.
- The raw scan reads only the batch's dates: on a timestamp ts_col the
  date filter is also given as time ranges the parquet scan pushes down.
- Tier 1m shuffles ONCE on (window, source) with map-side partial aggregation
  — the Zipf-skewed 'web' source is defused by the combine step (every map
  task pre-aggregates its own windows before the shuffle), plus AQE skew
  splitting for residual imbalance.
- The batch's 1m rollup is persisted, and every output of the batch reads
  it: the 1m write, the lineage checksum (one aggregate over the 1m rows),
  the packed write and the 1h and 1d tiers, which each re-aggregate it.
  Raw data is scanned exactly once per partition and no tier is read back.
  The partials merge exactly, so 1d from 1m equals 1d from 1h. ``persist``
  keeps the rollup's lineage, so a lost executor recomputes its blocks;
  the run unpersists it when the batch's jobs end, failed or not.
- Those five jobs (the 1m write, the checksum collect and the 1h, 1d and
  packed writes) run at the same time from a small thread pool, and each
  builds its own plan in its thread, so their planning and fixed per-job
  costs overlap instead of adding up. Each thread runs under the caller's local
  properties and session tags (``inheritable_thread_target``), so a
  caller's job group or scheduler pool covers them. The run waits for all
  five, then raises the first error in that order; a failed batch
  commits no lineage row, and the tiers its finished jobs wrote are
  overwritten when it replays. Batches run one after another.
- Outputs land under ``out/tier=<t>/event_date=<d>/`` and are idempotently
  overwritten on replay; the lineage row commits AFTER the output write, so
  kill-at-any-point replays only unfinished dates (tests/test_pipeline.py).
- A batch date the 1m write produced no rows for (a rewritten raw file whose
  range still covers it) keeps no stale output: the dynamic overwrite
  leaves such a partition alone, so the run compares the 1m files before
  and after the write and deletes the dates the write did not replace from
  every tier, 1m last so that a crash in between leaves them to the replay.
- Layout (``sources.table.tier_writer``): every tier file is gzip-compressed
  Parquet v2 without dictionaries (delta-packed integers, INT64
  timestamps), sorted within its task by ``(event_date, *key_cols,
  window_start)``, the packed tier by ``(event_date, series_key,
  block_id)``, the order the readers filter in. The pack exchange is
  clustered on the block (one block is one day), so the packed tier holds
  one file per date. An integer value column's blocks hold its exact
  ``(cnt, sum)`` partials, delta-packed (``gorilla.encode_partials``), and
  decode to its means; a float column's hold its XOR-coded means. On the
  perfbench query store (5 days x 5 sources) a packed day's file goes
  from 33.7 KB with XOR to 20.1 KB with partials.
- ``metrics["stage_s"]`` holds the wall seconds of each stage, summed over
  batches: ``pending``, each overlapped job (``1m``, ``checksum``, ``1h``,
  ``1d``, ``packed``), ``overlap`` (the section that runs them, shorter
  than their sum when they overlap) and ``commit``. The engine measures
  them itself because a tracer that keeps one stack of open spans cannot
  attribute jobs that run concurrently.
- Counts come from the parquet footers of the partitions a batch wrote, so
  no tier is read back to be counted; ``metrics["rows"]`` is the rows this
  run wrote, per tier. (``DataFrame.observe`` with an ``Observation`` is
  not used: on Spark 4.1 it leaves the session unserializable, which breaks
  ML models whose closures capture the session.)
"""

from __future__ import annotations

import functools
import operator
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, TimestampNTZType, TimestampType
from pyspark.util import inheritable_thread_target

from diive_spark.compression import gorilla
from diive_spark.operators import resample
from diive_spark.plans.lineage import LineageStore, checksum_expr, new_run_id
from diive_spark.sources.table import drop_tier_dates, tier_writer

TIER_CHAIN = ["1m", "1h", "1d"]


class KilledForTest(RuntimeError):
    pass


def tier_path(out_dir: str, tier: str) -> str:
    return f"{out_dir}/tier={tier}"


def _slab(raw: DataFrame, ts_col: str, dates: list[str]) -> DataFrame:
    """The raw rows of ``dates``. ``to_date(ts) IN (...)`` is not pushed
    into the scan, so a timestamp ts_col also gets one pushable
    ``[midnight, next midnight)`` range per date (session time zone for an
    instant, wall clock for TIMESTAMP_NTZ, as ``to_date`` reads them)."""
    cond = F.to_date(ts_col).isin(dates)
    dtype = raw.schema[ts_col].dataType
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        ts = F.col(ts_col)

        def day_start(d, days=0):
            return F.date_add(F.lit(d).cast("date"), days).cast(dtype)

        ranges = [(ts >= day_start(d)) & (ts < day_start(d, 1)) for d in dates]
        cond = functools.reduce(operator.or_, ranges) & cond
    return raw.filter(cond)


def _write(df: DataFrame, out_dir: str, tier: str, sort_cols: list[str],
           event_date=None) -> None:
    """Overwrite ``df``'s event_date partitions of ``tier``, each file's rows
    sorted by ``sort_cols``. A row's date is ``event_date``, by default the
    date of its window_start."""
    if event_date is None:
        event_date = F.to_date("window_start")
    writer = tier_writer(df.withColumn("event_date", event_date), ["event_date", *sort_cols])
    writer.mode("overwrite").partitionBy("event_date").option(
        "partitionOverwriteMode", "dynamic").parquet(tier_path(out_dir, tier))


def _write_packed(t1m: DataFrame, out_dir: str, key_cols: list[str], value_col: str) -> None:
    """Pack ``value_col``'s 1m series into one block per (key, day) and
    overwrite those days of the packed tier: its exact ``(cnt, sum)``
    partials when its sums are integers, else its XOR-coded means."""
    cnt, total = f"{value_col}_cnt", f"{value_col}_sum"
    values = ((cnt, total) if isinstance(t1m.schema[total].dataType, IntegralType)
              else f"{value_col}_mean")
    # block on window_START so blocks align with the event_date batching:
    # the 23:59 window's END is midnight of d+1, which would land the day's
    # last point in a partition a later batch dynamically overwrites
    packed = gorilla.pack_blocks(
        t1m.withColumn("_k", F.concat_ws("|", *key_cols) if key_cols else F.lit("all")),
        ["_k"], "window_start", values, block_seconds=86400,
    ).withColumnRenamed("_k", "series_key")
    _write(packed, out_dir, "packed", ["series_key", "block_id"],
           F.to_date(F.timestamp_seconds(F.col("block_id") * 86400)))


def _concurrently(spark: SparkSession, jobs: dict[str, Callable[[], Any]]
                  ) -> dict[str, tuple[Any, float]]:
    """Run ``jobs`` at the same time, one thread each, under the caller's
    Spark local properties (job group, scheduler pool) and session tags.
    Waits for every job to end, then raises the first error in ``jobs``
    order. Returns {name: (result, wall seconds)}."""
    def timed(fn):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0

    # one wrapper per job: each gets its own copy of the local properties,
    # which Spark SQL then sets its execution id in
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = {name: pool.submit(inheritable_thread_target(spark)(timed), fn)
                   for name, fn in jobs.items()}
    return {name: f.result() for name, f in futures.items()}


def _partitions(out_dir: str, tier: str, dates: list[str]) -> dict[str, ds.Dataset]:
    """{date: dataset} of the ``tier`` event_date partitions of ``dates``
    that exist."""
    parts = {}
    for d in dates:
        try:
            parts[d] = ds.dataset(f"{tier_path(out_dir, tier)}/event_date={d}",
                                  format="parquet")
        except FileNotFoundError:
            pass
    return parts


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    out_dir: str,
    ts_col: str = "event_time",
    value_cols: list[str] | None = None,
    key_cols: list[str] | None = None,
    mincounts_perc: float = 0.0,
    batch_size: int = 8,
    fail_after_batches: int | None = None,
    pack_tier: str | None = "1m",
) -> dict:
    """Process all pending event-dates through the 3-tier cascade.

    Returns metrics dict: rows this run wrote per tier, dates covered and
    dates replayed, seconds per stage (``stage_s``, see the module
    docstring). ``fail_after_batches`` simulates a kill for the resume
    test.
    """
    value_cols = value_cols or ["n_tok"]
    key_cols = key_cols if key_cols is not None else ["source"]
    store = LineageStore(spark, f"{out_dir}/_lineage")
    run_id = new_run_id()

    t0 = time.perf_counter()
    todo = store.pending(raw, ts_col, TIER_CHAIN[0])
    tiers = TIER_CHAIN + (["packed"] if pack_tier else [])
    stage_s = dict.fromkeys(["pending", "1m", "checksum", *tiers[1:], "overlap", "commit"], 0.0)
    stage_s["pending"] = time.perf_counter() - t0
    metrics = {
        "run_id": run_id,
        "n_partitions_total": todo.n_total,
        "n_partitions_pending": len(todo.dates),
        "rows": dict.fromkeys(tiers, 0),
        "stage_s": stage_s,
    }

    order = [*key_cols, "window_start"]
    manifest_rows = [{**r, "run_id": run_id} for r in todo.manifest]

    batches = [todo.dates[i:i + batch_size] for i in range(0, len(todo.dates), batch_size)]
    for bi, batch in enumerate(batches):
        if fail_after_batches is not None and bi >= fail_after_batches:
            raise KilledForTest(f"simulated kill before batch {bi}")
        t_batch = time.time()
        t1m = resample.rollup(_slab(raw, ts_col, batch), ts_col, value_cols, "1m",
                              key_cols=key_cols, mincounts_perc=mincounts_perc).persist()
        # each job builds its plan in its own thread
        jobs = {
            "1m": functools.partial(_write, t1m, out_dir, "1m", order),
            "checksum": lambda: t1m.groupBy(F.to_date("window_start").alias("event_date")).agg(
                checksum_expr(resample.partial_cols(value_cols))).collect(),
        }
        for tier in TIER_CHAIN[1:]:
            jobs[tier] = lambda tier=tier: _write(resample.reaggregate(
                t1m, tier, value_cols, key_cols=key_cols), out_dir, tier, order)
        if pack_tier:
            jobs["packed"] = functools.partial(_write_packed, t1m, out_dir, key_cols,
                                               value_cols[0])
        before = {d: set(p.files) for d, p in _partitions(out_dir, "1m", batch).items()}
        t0 = time.perf_counter()
        try:
            done = _concurrently(spark, jobs)
        finally:
            t1m.unpersist()
        stage_s["overlap"] += time.perf_counter() - t0
        for name, (_, secs) in done.items():
            stage_s[name] += secs

        # a partition the dynamic overwrite did not replace keeps its old files
        parts = {d: p for d, p in _partitions(out_dir, "1m", batch).items()
                 if set(p.files) != before.get(d)}
        written = [d for d in batch if d in parts]
        lacking = [d for d in batch if d not in parts]
        if lacking:  # 1m last: until it goes, a replay finds these dates lacking
            for tier in [*TIER_CHAIN[1:], "packed", "1m"]:
                drop_tier_dates(spark, tier_path(out_dir, tier), lacking)
        n_rows = {d: parts[d].count_rows() if d in parts else 0 for d in batch}
        checksums = {str(r["event_date"]): r["checksum"] for r in done["checksum"][0]}
        metrics["rows"]["1m"] += sum(n_rows.values())
        for tier in tiers[1:]:
            metrics["rows"][tier] += sum(
                p.count_rows() for p in _partitions(out_dir, tier, written).values())

        # lineage AFTER outputs: crash before this line -> batch replays
        elapsed = time.time() - t_batch
        t0 = time.perf_counter()
        store.commit([
            {
                "partition_id": d,
                "tier": "1m",
                "status": "done",
                "n_rows": n_rows[d],
                "checksum": checksums.get(d, 0),
                "elapsed_sec": elapsed / len(batch),
                "run_id": run_id,
                "input_fingerprint": todo.fingerprints[d],
            }
            for d in batch
        ] + (manifest_rows if bi == 0 else []))
        stage_s["commit"] += time.perf_counter() - t0
    return metrics
