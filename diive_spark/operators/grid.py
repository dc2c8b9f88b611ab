"""Regular-grid machinery: grid generation, missing-window detection, gap table.

Reference semantics:
- ``continuous_timestamp_freq`` (/root/reference/diive/core/times/times.py:1460-1517):
  reindex the series onto a continuous date_range so gaps materialize as NaN rows.
  Spark mapping: ``sequence(min_ts, max_ts, interval)`` + explode + LEFT JOIN —
  missing windows become rows with null aggregates (SURVEY.md §2.3).
- ``GapFinder`` (/root/reference/diive/analysis/gapfinder.py:114-147): consecutive
  NaN runs found via the notna().cumsum() run-id trick → per-gap
  GAP_START / GAP_END / GAP_LENGTH, sortable by length.

Scale note: the grid has one row per (key, window) — at the 1m tier over a
year that is ~5e5 rows per series key regardless of raw input size, so these
ops run on data ~6 orders of magnitude smaller than the 100 TB raw table.
The grid is generated distributed (explode of per-key sequence), never on
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from diive_spark.operators.resample import TIER_INTERVALS, TIER_SECONDS


def time_grid(
    df: DataFrame,
    tier: str,
    key_cols: list[str],
    ts_col: str = "window_start",
    global_span: bool = True,
) -> DataFrame:
    """One row per (key, grid slot) spanning the observed time range.

    ``global_span=True`` spans min..max over ALL keys (every series gets the
    same grid — diive reindexes each series onto the full file range);
    ``False`` spans each key's own min..max.
    """
    interval = TIER_INTERVALS[tier]
    # ONE per-key min/max aggregate serves both the key list and the span:
    # the old form (global min/max agg + separate distinct-keys agg + the
    # data side of the join) put three DIFFERENT aggregates over the same
    # input subtree, so neither ReuseExchange nor AQE stage reuse could
    # dedup them and the upstream rollup (and its raw-table scan) executed
    # three times per gridded query (r8 plan audit: 3x `Scan parquet
    # events` in gap_table_1h/interp_linear_1h/time_since). Now all three
    # consumers share the IDENTICAL rollup subtree below their exchanges,
    # which AQE dedups to one physical stage — one raw scan per query.
    perkey = df.groupBy(*key_cols).agg(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi"))
    if global_span:
        span = perkey.agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
        keys = perkey.select(*key_cols).crossJoin(F.broadcast(span))
    else:
        keys = perkey
    return keys.select(
        *key_cols,
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr(f"INTERVAL {interval}"))
        ).alias(ts_col),
    ).withColumn(
        "window_end", F.col(ts_col) + F.expr(f"INTERVAL {interval}")
    )


def gridded(
    rollup_df: DataFrame,
    tier: str,
    key_cols: list[str],
    global_span: bool = True,
) -> DataFrame:
    """LEFT JOIN the rollup onto its continuous grid: missing windows become
    rows with null stats (the diive reindex-to-continuous semantics).

    The join key (keys..., window_start) is the rollup's own grouping key, so
    with AQE the shuffle partitioning is reused; the grid side is small.

    The rollup is lazily ``localCheckpoint``-ed first: its three consumers
    (per-key span aggregate, grid keys, the join's data side) each prune a
    DIFFERENT column set, so Catalyst specialises the rollup subtree per
    consumer and neither ReuseExchange nor AQE stage reuse can dedup them —
    the raw-table scan + rollup executed three times per gridded query
    (r8 runtime plan check: 3x `Scan parquet`, 0 reuse). Checkpointing
    pins ONE materialization of the (tiny, tier-sized) rollup that all
    consumers read. Lazy: no extra job — the first consumer materializes.
    """
    rollup_df = rollup_df.localCheckpoint(eager=False)
    grid = time_grid(rollup_df, tier, key_cols, global_span=global_span)
    data = rollup_df.drop("window_end")
    return _left_join_null_safe(grid, data, [*key_cols, "window_start"])


def _left_join_null_safe(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """``left.join(right, on, "left")`` in which a NULL key matches a NULL
    key: a NULL group key is a series of its own (pandas
    ``groupby(dropna=False)``), not one whose rows never match. The
    output keeps the ``on`` columns of ``left`` only."""
    right = right.select(*[F.col(c).alias(f"_nj_{c}") if c in on else c for c in right.columns])
    cond = [F.col(c).eqNullSafe(F.col(f"_nj_{c}")) for c in on]
    return left.join(right, cond, "left").drop(*[f"_nj_{c}" for c in on])


def missing_windows(
    rollup_df: DataFrame,
    tier: str,
    key_cols: list[str],
    presence_col: str,
) -> DataFrame:
    """Grid slots with no emitted rollup row (anti-join form)."""
    g = gridded(rollup_df, tier, key_cols)
    return g.filter(F.col(presence_col).isNull()).select(*key_cols, "window_start", "window_end")


def gap_table(
    gridded_df: DataFrame,
    key_cols: list[str],
    value_col: str,
    ts_col: str = "window_start",
    tier: str | None = None,
) -> DataFrame:
    """Consecutive-null runs → (keys..., gap_start, gap_end, gap_length).

    The run-id trick is the reference's notna().cumsum()
    (gapfinder.py:120-130): count of non-nulls up to the current row is
    constant across one null run.

    gap_start/gap_end are the first/last missing slot's ``ts_col`` (both
    inclusive, matching GapFinder's GAP_START/GAP_END record timestamps);
    gap_length is in records. ``tier`` adds gap_duration_seconds.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    runs = gridded_df.withColumn("_run", F.count(value_col).over(w)).filter(
        F.col(value_col).isNull()
    )
    out = runs.groupBy(*key_cols, "_run").agg(
        F.min(ts_col).alias("gap_start"),
        F.max(ts_col).alias("gap_end"),
        F.count(F.lit(1)).alias("gap_length"),
    ).drop("_run")
    if tier:
        out = out.withColumn(
            "gap_duration_seconds", F.col("gap_length") * F.lit(TIER_SECONDS[tier])
        )
    return out


def gap_stats_monthly(
    gridded_df: DataFrame,
    key_cols: list[str],
    value_col: str,
    ts_col: str = "window_start",
    gap_df: DataFrame | None = None,
) -> DataFrame:
    """Per-calendar-month missing statistics, all years combined (GapStats
    monthly_stats, /root/reference/diive/analysis/gapfinder.py:440-466):
    total_records, missing_records, missing_pct (2 dp), n_gaps counted at the
    month of gap_start. Months absent from the grid produce no row (the
    reference reindexes 1-12 with zeros — a presentation concern)."""
    base = gridded_df.groupBy(*key_cols, F.month(ts_col).alias("MONTH")).agg(
        F.count(F.lit(1)).alias("total_records"),
        F.sum(F.when(F.col(value_col).isNull(), 1).otherwise(0)).alias("missing_records"),
    ).withColumn(
        "missing_pct",
        F.round(100.0 * F.col("missing_records") / F.greatest(F.col("total_records"), F.lit(1)) + F.lit(1e-9), 2),
    )
    if gap_df is None:
        gap_df = gap_table(gridded_df, key_cols, value_col, ts_col)
    gcounts = gap_df.groupBy(*key_cols, F.month("gap_start").alias("MONTH")).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )
    return _left_join_null_safe(base, gcounts, [*key_cols, "MONTH"]).withColumn(
        "n_gaps", F.coalesce(F.col("n_gaps"), F.lit(0)))


def gap_stats_annual(
    gridded_df: DataFrame,
    key_cols: list[str],
    value_col: str,
    ts_col: str = "window_start",
) -> DataFrame:
    """Per-year data coverage (GapStats annual_coverage,
    gapfinder.py:467-480): total/valid/missing records, coverage_pct (2 dp)."""
    return gridded_df.groupBy(*key_cols, F.year(ts_col).alias("YEAR")).agg(
        F.count(F.lit(1)).alias("total_records"),
        F.count(value_col).alias("valid_records"),
    ).withColumn(
        "missing_records", F.col("total_records") - F.col("valid_records")
    ).withColumn(
        "coverage_pct",
        F.round(100.0 * F.col("valid_records") / F.greatest(F.col("total_records"), F.lit(1)) + F.lit(1e-9), 2),
    )


def long_gaps(gap_df: DataFrame, long_gap_records: int = 48) -> DataFrame:
    """Gaps with gap_length >= threshold, longest first (GapStats long_gaps,
    gapfinder.py:513-521; default 48 records = one day of 30-min data)."""
    return gap_df.filter(F.col("gap_length") >= long_gap_records).orderBy(
        F.desc("gap_length"), F.asc("gap_start")
    )


def gap_stats(gap_df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Headline gap stats per key (GapFinder.summary / GapStats,
    gapfinder.py:160-178): count, total missing records, min/median/max/mean
    gap length, longest-gap start."""
    return gap_df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_length").alias("n_missing"),
        F.min("gap_length").alias("min_len"),
        F.percentile(F.col("gap_length"), F.lit(0.5)).alias("median_len"),
        F.max("gap_length").alias("max_len"),
        F.avg("gap_length").alias("mean_len"),
        F.max_by("gap_start", "gap_length").alias("longest_gap_start"),
    )
