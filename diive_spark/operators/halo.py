"""Slab-with-halo grouped-map execution — the engine's scale pattern for
centered-window kernels.

Problem: centered rolling kernels (Hampel median/MAD, rolling-median fill)
need ±w/2 neighbours. A plain ``groupBy(series_key).applyInPandas`` puts an
entire series in one task — fine for one year of 1m rollups (~5e5 rows), a
straggler at 10-year horizons. Solution (SURVEY.md §4.3.4): split each series
into fixed time slabs, *duplicate* rows within ``halo`` slots of each slab
boundary into the neighbouring slab, run the kernel per (key, slab), then
drop halo rows. Windows bounded by ``halo`` never cross two slabs, so the
result is exactly equal to the global kernel (tested in tests/test_halo.py).

All kernels receive/return pandas DataFrames via Arrow (vectorized; no
per-row Python).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_halo_slabs(
    df: DataFrame, ts_col: str, slab_seconds: int, halo_seconds: int,
) -> DataFrame:
    """Single-scan halo duplication: each row explodes into its own slab
    plus (when near a boundary) a halo copy in the neighbouring slab —
    appends ``_slab`` (bigint) / ``_halo`` (tinyint 0/1) columns: the row
    goes to every slab from the one of ``ts - halo`` to the one of
    ``ts + halo``. One pass over the input (no unions, so an expensive
    upstream plan is never recomputed; scan volume 1x + halo fraction).

    Callers either hand the groups to a pandas kernel (apply_with_halo) or
    run plain JVM WINDOW expressions partitioned by (keys..., _slab) — the
    slab turns a per-key single-task window into per-(key, slab)
    parallelism; exactness holds for any window whose reach is bounded by
    ``halo_seconds``. Drop ``_halo == 1`` rows (and both columns) after."""
    if halo_seconds >= slab_seconds:
        raise ValueError("halo must be smaller than slab")
    epoch = F.unix_timestamp(F.col(ts_col))

    def slab_of(t):  # floor, not a cast: pre-1970 rows round down too
        return F.floor(t / F.lit(slab_seconds))

    # a row within halo_seconds of its slab's start also lands in the
    # previous slab, one within halo_seconds of its end in the next
    slabs = F.sequence(slab_of(epoch - F.lit(halo_seconds)), slab_of(epoch + F.lit(halo_seconds)))
    return df.withColumn("_slab", F.explode(slabs)).withColumn(
        "_halo", (F.col("_slab") != slab_of(epoch)).cast("tinyint"))


def apply_with_halo(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str,
    slab_seconds: int,
    halo_seconds: int,
) -> DataFrame:
    """Run ``kernel`` per (key, slab) with halo duplication.

    The kernel sees rows sorted by ``ts_col`` (halo rows included, marked by
    the ``_halo`` column) and must return one output row per input row,
    keeping the ``_halo`` column; halo outputs are dropped before returning
    to Spark, so ``output_schema`` lists only the real output columns.
    ``halo_seconds`` must be >= max centered-window half-width in seconds
    (half_window_rows * tier_seconds).
    """
    expanded = explode_halo_slabs(df, ts_col, slab_seconds, halo_seconds)
    # Number the grouped-map exchange: the kernel is Python-CPU-bound per
    # ROW, but AQE's size-based coalescing sees only its (tiny) shuffle
    # BYTES and folds a small tier onto ONE partition, serialising every
    # slab through a single Python worker (r8 measurement: the whole sf1
    # gapfill cascade ran as a 1-task stage). An explicit numbered
    # repartition is exempt from AQE coalescing and satisfies the groupBy's
    # clustering, so no second exchange is added. Its width is the
    # cluster's parallelism, whatever the input's: finding the input's own
    # width means planning it (25-45 ms a call), and an exchange wider than
    # the cores runs its extra tasks in later waves.
    expanded = expanded.repartition(
        df.sparkSession.sparkContext.defaultParallelism, *key_cols, "_slab")

    out_cols = [c.strip().split()[0] for c in output_schema.split(",")]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        out = kernel(pdf)
        return out.loc[out["_halo"] == 0, out_cols]

    return expanded.groupBy(*key_cols, "_slab").applyInPandas(
        lambda _, pdf: run(pdf), schema=output_schema
    )
