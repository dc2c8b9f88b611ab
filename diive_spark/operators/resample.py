"""Tumbling-window continuous aggregates (the canonical diive downsample).

Reference semantics:
- ``resample_series_to_30MIN`` (/root/reference/diive/core/times/resampling.py:93-197):
  label='right' (output timestamp = window END), per-window count + agg,
  completeness gate ``mincounts = int(maxcounts * mincounts_perc)`` with the
  floor rule ``mincounts = 1 if mincounts < 3`` (resampling.py:167-171), where
  ``maxcounts`` is the number of grid slots per window (dummy-1s resample,
  resampling.py:164-166).
- ``resample_to_daily_agg`` (resampling.py:47-90): relative gate vs the
  fullest day's *observed* count, ``mincounts = max(1, int(maxcounts*perc))``.
- ``resample_to_monthly_agg_matrix`` (resampling.py:15-44): year x month agg,
  optional dense rank per month across years (rank 1 = highest).
- ``diel_cycle`` (resampling.py:200-262): group by time-of-day (x month),
  count/mean/std/median/q25/q75/min/max, mask groups below ``mincounts``.

Spark mapping: one ``groupBy(window(ts, tier), *keys)`` — a single shuffle on
``(window, key)``. At 100 TB this is the only raw-data shuffle in the whole
engine; everything downstream (cascade, gap-fill, outliers, compression)
operates on the rollup, which is ~1e5-1e6x smaller.

Partial/final composition (SURVEY.md §2.4): ``_PARTIAL_AGGS`` is the one
definition of the five partials carried per value column ``v`` — each name
maps to its raw aggregate over ``v`` and to its merge aggregate over the
stored ``{v}_{name}`` column:

    cnt    count(v)                     sum(v_cnt)
    sum    sum(v)                       sum(v_sum)
    min    min(v)                       min(v_min)
    max    max(v)                       max(v_max)
    sumsq  sum(double(v) * double(v))   sum(v_sumsq)

Every merge is associative, so a higher tier computed from a lower tier's
partials equals the one computed from raw rows, and the 1m → 1h → 1d
cascade never rescans raw data. ``_tumbling`` is the one tumbling-window
aggregate behind ``rollup`` (raw aggregates, also on the watermarked stream
of ``streaming.rollup_stream``) and ``reaggregate`` (merge aggregates); it
emits ``keys, window_start, window_end``, the partials in ``PARTIAL_COLS``
order, then ``{v}_mean = {v}_sum / {v}_cnt``. ``partial_cols`` names the
partial columns in that order (``run_pipeline``'s lineage checksum reads
them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TIER_INTERVALS = {"1m": "1 minute", "30m": "30 minutes", "1h": "1 hour", "1d": "1 day"}
TIER_SECONDS = {"1m": 60, "30m": 1800, "1h": 3600, "1d": 86400}

# name -> (raw aggregate over a value column, merge aggregate over the
# stored partial), as SQL templates of the quoted column; see the module
# docstring. Text builds each aggregate in one JVM call instead of one per
# function and cast. sumsq feeds variance and is computed in double:
# int*int overflows under ANSI mode for large values.
_PARTIAL_AGGS = {
    "cnt": ("count({})", "sum({})"),
    "sum": ("sum({})", "sum({})"),
    "min": ("min({})", "min({})"),
    "max": ("max({})", "max({})"),
    "sumsq": ("sum(CAST({0} AS DOUBLE) * CAST({0} AS DOUBLE))", "sum({})"),
}
PARTIAL_COLS = tuple(_PARTIAL_AGGS)


def partial_cols(value_cols: list[str]) -> list[str]:
    """The partial columns of ``value_cols``, in output order."""
    return [f"{v}_{p}" for v in value_cols for p in PARTIAL_COLS]


def _tumbling(df: DataFrame, ts_col: str, tier: str, value_cols: list[str],
              key_cols: list[str], merge: bool) -> DataFrame:
    """One row per (window of ``tier`` over ``ts_col``, keys): the partials
    of each value column, from raw values or, with ``merge``, from the
    stored partials of a lower tier."""
    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    aggs = []
    for v in value_cols:
        for p, (raw, merged) in _PARTIAL_AGGS.items():
            sql = merged.format(q(f"{v}_{p}")) if merge else raw.format(q(v))
            aggs.append(F.expr(f"{sql} AS {q(f'{v}_{p}')}"))
    window = F.expr(f"window({q(ts_col)}, '{TIER_INTERVALS[tier]}') AS w")
    return df.groupBy(window, *key_cols).agg(*aggs).selectExpr(
        *map(q, key_cols), "w.start AS window_start", "w.end AS window_end",
        *map(q, partial_cols(value_cols)),
        *[f"{q(f'{v}_sum')} / {q(f'{v}_cnt')} AS {q(f'{v}_mean')}" for v in value_cols],
    )


def mincounts_rule(maxcounts: int, mincounts_perc: float) -> int:
    """Reference floor rule (resampling.py:167-171): int(max*perc), but
    require only 1 when that lands below 3."""
    mincounts = int(maxcounts * mincounts_perc)
    return 1 if mincounts < 3 else mincounts


def rollup(
    df: DataFrame,
    ts_col: str,
    value_cols: list[str],
    tier: str,
    key_cols: list[str] | None = None,
    mincounts_perc: float = 0.0,
    slots_per_window: int | None = None,
) -> DataFrame:
    """Tumbling-window rollup with diive's completeness gate.

    Args:
        tier: one of TIER_INTERVALS keys.
        mincounts_perc: completeness threshold (0 disables the gate beyond
            "window has >=1 value").
        slots_per_window: if the input sits on a regular grid, the number of
            grid slots per window (reference maxcounts, resampling.py:164-166).
            If None, maxcounts falls back to the max *observed* per-window
            count across the whole input (resample_to_daily_agg semantics,
            resampling.py:85-87) — computed with a scalar subquery-style
            global max, no extra shuffle thanks to AQE reuse.

    Returns one row per (key, window) that passes the gate, with
    ``window_start``/``window_end`` (label-right: window_end is the diive
    TIMESTAMP_END) plus per value column: ``{v}_cnt/_sum/_mean/_min/_max/_sumsq``.
    """
    key_cols = list(key_cols or [])
    out = _tumbling(df, ts_col, tier, value_cols, key_cols, merge=False)
    if mincounts_perc and mincounts_perc > 0:
        gate_col = F.col(f"{value_cols[0]}_cnt")
        if slots_per_window is not None:
            mincounts = mincounts_rule(slots_per_window, mincounts_perc)
            out = out.filter(gate_col >= F.lit(mincounts))
        else:
            # Relative-to-fullest-window gate; floor at 1 (resampling.py:86).
            maxw = Window.partitionBy(*key_cols) if key_cols else Window.partitionBy()
            out = (
                out.withColumn("_maxcnt", F.max(gate_col).over(maxw))
                .filter(gate_col >= F.greatest(F.lit(1), F.floor(F.col("_maxcnt") * mincounts_perc)))
                .drop("_maxcnt")
            )
    return out


def reaggregate(
    rollup_df: DataFrame,
    to_tier: str,
    value_cols: list[str],
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Final-merge a lower tier into a higher one without touching raw data.

    1h tier = groupBy(window(1m.window_start, '1 hour')) of the 1m partials
    under their merge aggregates; mean is recomputed as sum/cnt
    (SURVEY.md §2.4 cascade). Exact, because every merge is associative —
    tested as reagg-equals-direct in tests/test_cascade.py.
    """
    return _tumbling(rollup_df, "window_start", to_tier, value_cols,
                     list(key_cols or []), merge=True)


def resample_to_daily_agg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    agg: str = "mean",
    mincounts_perc: float = 0.0,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Daily aggregate with relative completeness gate (resampling.py:47-90).

    Output: (keys..., day, {value_col}_{agg} aliased ``agg_value``, n_vals).
    """
    key_cols = list(key_cols or [])
    aggfn = {
        "mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
        "median": lambda c: F.percentile(c, F.lit(0.5)),
        "std": F.stddev_samp,
    }[agg]
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    out = df.groupBy(day, *key_cols).agg(
        F.count(value_col).alias("n_vals"),
        aggfn(F.col(value_col)).alias("agg_value"),
    )
    maxw = Window.partitionBy(*key_cols) if key_cols else Window.partitionBy()
    return (
        out.withColumn("_maxcnt", F.max("n_vals").over(maxw))
        .filter(F.col("n_vals") >= F.greatest(F.lit(1), F.floor(F.col("_maxcnt") * F.lit(mincounts_perc))))
        .drop("_maxcnt")
    )


def resample_to_monthly_agg_matrix(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    agg: str = "mean",
    ranks: bool = False,
    pivot: bool = False,
) -> DataFrame:
    """Year x month aggregate, long form (year, month, agg_value[, rank])
    or wide (pivot on month) — resampling.py:15-44. Rank is dense, per month
    across years, rank 1 = highest value (resampling.py:38-42)."""
    aggfn = {"mean": F.avg, "median": lambda c: F.percentile(c, F.lit(0.5)),
             "sum": F.sum, "max": F.max, "min": F.min, "std": F.stddev_samp}[agg]
    long = (
        df.groupBy(F.year(ts_col).alias("year"), F.month(ts_col).alias("month"))
        .agg(aggfn(F.col(value_col)).alias("agg_value"))
    )
    if ranks:
        w = Window.partitionBy("month").orderBy(F.desc("agg_value"))
        long = long.withColumn("rank", F.dense_rank().over(w).cast("double"))
    if pivot:
        val = "rank" if ranks else "agg_value"
        return long.groupBy("year").pivot("month", list(range(1, 13))).agg(F.first(val)).orderBy("year")
    return long


def diel_cycle(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    mincounts: int = 1,
    each_month: bool = False,
) -> DataFrame:
    """Diel (time-of-day) cycle — resampling.py:200-262.

    Groups by (hour, minute)[, month]; emits count/mean/std/median/q25/q75/
    min/max plus mean±sd; groups under ``mincounts`` have all stats nulled
    (reference sets them NaN, resampling.py:245-246) but remain as rows.
    """
    groups = [F.hour(ts_col).alias("hour"), F.minute(ts_col).alias("minute")]
    names = ["hour", "minute"]
    if each_month:
        groups.insert(0, F.month(ts_col).alias("month"))
        names.insert(0, "month")
    c = F.col(value_col)
    out = df.groupBy(*groups).agg(
        F.count(c).alias("n_vals"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("std"),
        F.percentile(c, F.lit(0.5)).alias("median"),
        F.percentile(c, F.lit(0.25)).alias("q25"),
        F.percentile(c, F.lit(0.75)).alias("q75"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
    )
    out = out.withColumn("mean_plus_sd", F.col("mean") + F.col("std")).withColumn(
        "mean_minus_sd", F.col("mean") - F.col("std")
    )
    statcols = ["mean", "std", "median", "q25", "q75", "min", "max", "mean_plus_sd", "mean_minus_sd"]
    keep = F.col("n_vals") >= F.lit(mincounts)
    for s in statcols:
        out = out.withColumn(s, F.when(keep, F.col(s)))
    return out.select(*names, "n_vals", *statcols)
