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
- 1h and 1d tiers re-aggregate the batch's 1m partitions, read back by their
  ``event_date=<d>`` paths — raw data is scanned exactly once per partition.
  The lineage checksum is one aggregate over those same 1m rows.
- Outputs land under ``out/tier=<t>/event_date=<d>/`` and are idempotently
  overwritten on replay; the lineage row commits AFTER the output write, so
  kill-at-any-point replays only unfinished dates (tests/test_pipeline.py).
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

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from diive_spark.compression import gorilla
from diive_spark.operators import resample
from diive_spark.plans.lineage import LineageStore, checksum_expr, new_run_id

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


def _write(df: DataFrame, out_dir: str, tier: str) -> None:
    """Overwrite ``df``'s event_date partitions of ``tier``."""
    df.write.mode("overwrite").partitionBy("event_date").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(tier_path(out_dir, tier))


def _rows(out_dir: str, tier: str, dates: list[str]) -> dict[str, int]:
    """{date: rows} of ``tier``'s event_date partitions, from their parquet
    footers; 0 for a partition that does not exist."""
    rows = {}
    for d in dates:
        try:
            rows[d] = ds.dataset(f"{tier_path(out_dir, tier)}/event_date={d}",
                                 format="parquet").count_rows()
        except FileNotFoundError:
            rows[d] = 0
    return rows


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
    dates replayed. ``fail_after_batches`` simulates a kill for the resume
    test.
    """
    value_cols = value_cols or ["n_tok"]
    key_cols = key_cols if key_cols is not None else ["source"]
    store = LineageStore(spark, f"{out_dir}/_lineage")
    run_id = new_run_id()

    todo = store.pending(raw, ts_col, TIER_CHAIN[0])
    tiers = TIER_CHAIN + (["packed"] if pack_tier else [])
    metrics = {
        "run_id": run_id,
        "n_partitions_total": todo.n_total,
        "n_partitions_pending": len(todo.dates),
        "rows": dict.fromkeys(tiers, 0),
    }

    stat_cols = [f"{v}_{p}" for v in value_cols for p in resample.PARTIAL_COLS]
    manifest_rows = [{**r, "run_id": run_id} for r in todo.manifest]

    batches = [todo.dates[i:i + batch_size] for i in range(0, len(todo.dates), batch_size)]
    for bi, batch in enumerate(batches):
        if fail_after_batches is not None and bi >= fail_after_batches:
            raise KilledForTest(f"simulated kill before batch {bi}")
        t0 = time.time()
        t1m = resample.rollup(
            _slab(raw, ts_col, batch), ts_col, value_cols, "1m", key_cols=key_cols,
            mincounts_perc=mincounts_perc,
        ).withColumn("event_date", F.to_date("window_start"))
        _write(t1m, out_dir, "1m")
        n_rows = _rows(out_dir, "1m", batch)
        metrics["rows"]["1m"] += sum(n_rows.values())

        written = [d for d in batch if n_rows[d]]
        checksums = {}
        if written:  # a date with no rows has no 1m partition to read back
            base = tier_path(out_dir, "1m")
            # the known schema spares a footer-reading job
            t1m_back = spark.read.schema(t1m.schema).option("basePath", base).parquet(
                *[f"{base}/event_date={d}" for d in written])
            checksums = {
                str(r["event_date"]): r["checksum"]
                for r in t1m_back.groupBy("event_date").agg(checksum_expr(stat_cols)).collect()
            }
            prev = t1m_back
            for tier in TIER_CHAIN[1:]:
                t = resample.reaggregate(prev, tier, value_cols, key_cols=key_cols).withColumn(
                    "event_date", F.to_date("window_start")
                )
                _write(t, out_dir, tier)
                prev = t

            if pack_tier:
                # block on window_START so blocks align with the event_date
                # batching: the 23:59 window's END is midnight of d+1, which
                # would land the day's last point in a partition a later batch
                # dynamically overwrites
                packed = gorilla.pack_blocks(
                    t1m_back.withColumn("_k", F.concat_ws("|", *key_cols) if key_cols else F.lit("all")),
                    ["_k"], "window_start", f"{value_cols[0]}_mean", block_seconds=86400,
                ).withColumnRenamed("_k", "series_key")
                _write(packed.withColumn(
                    "event_date", F.to_date(F.timestamp_seconds(F.col("block_id") * 86400))
                ), out_dir, "packed")
            for tier in tiers[1:]:
                metrics["rows"][tier] += sum(_rows(out_dir, tier, written).values())

        # lineage AFTER outputs: crash before this line -> batch replays
        elapsed = time.time() - t0
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
    return metrics
