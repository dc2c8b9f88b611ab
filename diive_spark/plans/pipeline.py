"""The end-to-end rollup pipeline: raw token table -> 1m/1h/1d tiers ->
packed Gorilla blocks, partitioned by event-date, resumable from lineage.

Physical plan (SURVEY.md §4.3):
- Partition unit = event DATE. Raw scan prunes to pending dates only
  (partition pruning / parquet min-max skipping at scale).
- Tier 1m shuffles ONCE on (window, source) with map-side partial aggregation
  — the Zipf-skewed 'web' source is defused by the combine step (every map
  task pre-aggregates its own windows before the shuffle), plus AQE skew
  splitting for residual imbalance.
- 1h and 1d tiers re-aggregate the next-lower tier (partial/final
  composition) — raw data is scanned exactly once per partition.
- Outputs land under ``out/tier=<t>/event_date=<d>/`` and are idempotently
  overwritten on replay; the lineage row commits AFTER the output write, so
  kill-at-any-point replays only unfinished dates (tests/test_pipeline.py).
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.compression import gorilla
from diive_spark.operators import resample
from diive_spark.plans.lineage import LineageStore, checksum_expr, new_run_id

TIER_CHAIN = ["1m", "1h", "1d"]


class KilledForTest(RuntimeError):
    pass


def tier_path(out_dir: str, tier: str) -> str:
    return f"{out_dir}/tier={tier}"


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

    Returns metrics dict: per-tier row counts, elapsed, partitions replayed.
    ``fail_after_batches`` simulates a kill for the resume test.
    """
    value_cols = value_cols or ["n_tok"]
    key_cols = key_cols if key_cols is not None else ["source"]
    store = LineageStore(spark, f"{out_dir}/_lineage")
    run_id = new_run_id()

    all_dates = [
        str(r["d"])
        for r in raw.select(F.to_date(ts_col).alias("d")).distinct().orderBy("d").collect()
    ]
    pending = store.pending(all_dates, TIER_CHAIN[0])
    metrics = {
        "run_id": run_id,
        "n_partitions_total": len(all_dates),
        "n_partitions_pending": len(pending),
        "rows": {},
    }

    stat_cols = lambda vcols: [f"{v}_{p}" for v in vcols for p in resample.PARTIAL_COLS]  # noqa: E731

    batches = [pending[i:i + batch_size] for i in range(0, len(pending), batch_size)]
    for bi, batch in enumerate(batches):
        if fail_after_batches is not None and bi >= fail_after_batches:
            raise KilledForTest(f"simulated kill before batch {bi}")
        t0 = time.time()
        # partition pruning: only pending dates are scanned
        slab = raw.filter(F.to_date(ts_col).isin(batch))
        t1m = resample.rollup(
            slab, ts_col, value_cols, "1m", key_cols=key_cols,
            mincounts_perc=mincounts_perc,
        ).withColumn("event_date", F.to_date("window_start"))
        t1m.write.mode("overwrite").partitionBy("event_date").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(tier_path(out_dir, "1m"))

        t1m_back = spark.read.parquet(tier_path(out_dir, "1m")).filter(
            F.col("event_date").isin(batch)
        )
        prev = t1m_back
        for tier in TIER_CHAIN[1:]:
            t = resample.reaggregate(prev, tier, value_cols, key_cols=key_cols).withColumn(
                "event_date", F.to_date("window_start")
            )
            t.write.mode("overwrite").partitionBy("event_date").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(tier_path(out_dir, tier))
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
            packed.withColumn(
                "event_date", F.to_date(F.timestamp_seconds(F.col("block_id") * 86400))
            ).write.mode("overwrite").partitionBy("event_date").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(tier_path(out_dir, "packed"))

        # lineage AFTER outputs: crash before this line -> batch replays
        elapsed = time.time() - t0
        per_date = (
            t1m_back.groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n_rows"), checksum_expr(stat_cols(value_cols)))
            .collect()
        )
        by_date = {str(r["event_date"]): r for r in per_date}
        store.commit([
            {
                "partition_id": d,
                "tier": "1m",
                "status": "done",
                "n_rows": int(by_date[d]["n_rows"]) if d in by_date else 0,
                "checksum": int(by_date[d]["checksum"]) if d in by_date else 0,
                "elapsed_sec": elapsed / len(batch),
                "run_id": run_id,
            }
            for d in batch
        ])

    for tier in TIER_CHAIN + (["packed"] if pack_tier else []):
        try:
            metrics["rows"][tier] = spark.read.parquet(tier_path(out_dir, tier)).count()
        except AnalysisException as exc:
            # a tier never written, or one whose every day retention dropped
            if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise
            metrics["rows"][tier] = 0
    return metrics
