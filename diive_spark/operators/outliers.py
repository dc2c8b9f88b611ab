"""Outlier flagging + iterate-until-converged driver + QCF combination.

Flag convention (reference FlagBase.setflag,
/root/reference/diive/core/base/flagbase.py:112-120): 0 = pass, 2 = hard
reject (outlier tests emit 0/2; soft 1 exists in the QCF flag model).
Null values carry a null flag (reference drops NaN before testing).

Tests implemented (reference file:line):
- absolute limits           preprocessing/outlier_detection/absolutelimits.py:188-252
- z-score global/day-night  preprocessing/outlier_detection/zscore.py:164-245,
                            core/funcs/funcs.py:54 (np.std => population SD)
- z-score rolling           preprocessing/outlier_detection/zscore.py:315-340
                            (centered, min_periods=3, pandas ddof=1 SD)
- z-score increments        preprocessing/outlier_detection/incremental.py:103-158
                            (|double-diff|, |diff-prev|, |diff-next|; outlier
                            iff all three z-flags fire, flag sum == 6)
- Hampel (median/MAD)       preprocessing/outlier_detection/hampel.py:199-258
                            (k=1.4826, MAD+1e-6, optional double-differencing)
- local SD                  preprocessing/outlier_detection/localsd.py:244-248
- trim-low                  preprocessing/outlier_detection/trim.py:190-259
- manual removal            preprocessing/outlier_detection/manualremoval.py:107
- repeat-until-converged    core/base/flagbase.py:155-197 (each iteration tests
                            the series filtered by all previous iterations;
                            overall flag = 2 where ANY iteration flagged 2)
- QCF decision cascade      preprocessing/qaqc/qcf.py:637-697

Spark mapping: everything except Hampel/localSD is built-in expressions and
window functions (JVM codegen); Hampel/localSD use the same pandas rolling
kernels as the reference inside slab+halo grouped maps — vectorized, exact
reference parity, partition-local.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from diive_spark.operators.halo import apply_with_halo

HAMPEL_K = 1.4826


def _centered_frame(w: Window, winsize: int):
    """pandas rolling(center=True) frame: [i-(w-1)//2, i+w//2]."""
    return w.rowsBetween(-((winsize - 1) // 2), winsize // 2)


def flag_absolute_limits(
    df: DataFrame, value_col: str, minval: float, maxval: float,
    flag_col: str = "FLAG_ABSLIM_TEST",
) -> DataFrame:
    v = F.col(value_col)
    return df.withColumn(
        flag_col,
        F.when(v.isNull(), F.lit(None))
        .when((v < minval) | (v > maxval), F.lit(2))
        .otherwise(F.lit(0))
        .cast("int"),
    )


def flag_manual_removal(
    df: DataFrame, ts_col: str, value_col: str,
    ranges: list[tuple[str, str]] | None = None,
    timestamps: list[str] | None = None,
    flag_col: str = "FLAG_MANUAL_TEST",
) -> DataFrame:
    cond = F.lit(False)
    for start, end in ranges or []:
        cond = cond | F.col(ts_col).between(F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp"))
    if timestamps:
        cond = cond | F.col(ts_col).isin([pd.Timestamp(t) for t in timestamps])
    v = F.col(value_col)
    return df.withColumn(
        flag_col,
        F.when(v.isNull(), F.lit(None)).when(cond, F.lit(2)).otherwise(F.lit(0)).cast("int"),
    )


def flag_zscore(
    df: DataFrame, key_cols: list[str], value_col: str,
    thres_zscore: float = 4.0,
    group_cols: list[str] | None = None,
    flag_col: str = "FLAG_ZSCORE_TEST",
) -> DataFrame:
    """Global (or per-daynight-group) z-score; population SD (np.std ddof=0,
    funcs.py:54).

    The per-group mean/SD are a grouped AGGREGATE broadcast-joined back,
    not a whole-partition window: the window form exchanges AND sorts the
    full table just to attach two per-group scalars (r8 plan audit), while
    the aggregate rides map-side partial aggregation and the join-back is
    a broadcast of one tiny row per group — the scan stays the only full
    pass. Group cardinality is variable count x day/night — bounded far
    below broadcast limits in any realistic screening corpus."""
    parts = [*key_cols, *(group_cols or [])]
    v = F.col(value_col)
    # null out a zero SD (constant/stuck series) instead of ANSI-mode
    # DIVIDE_BY_ZERO: z becomes null -> no flag, matching numpy's nan
    stats_aggs = [F.avg(v).alias("_zs_mean"),
                  F.nullif(F.stddev_pop(v), F.lit(0.0)).alias("_zs_sd")]
    if parts:
        # null-safe join keys: a NULL key or group is a group of its own
        # (pandas groupby(dropna=False)), not a row that loses its stats
        stats = df.groupBy(*parts).agg(*stats_aggs).select(
            *[F.col(c).alias(f"_zs_{c}") for c in parts], "_zs_mean", "_zs_sd")
        on = [F.col(c).eqNullSafe(F.col(f"_zs_{c}")) for c in parts]
        out = df.join(F.broadcast(stats), on, "left").drop(*[f"_zs_{c}" for c in parts])
    else:
        out = df.crossJoin(F.broadcast(df.agg(*stats_aggs)))
    z = F.abs((v - F.col("_zs_mean")) / F.col("_zs_sd"))
    return out.withColumn(
        flag_col,
        F.when(v.isNull(), F.lit(None)).when(z > thres_zscore, F.lit(2)).otherwise(F.lit(0)).cast("int"),
    ).drop("_zs_mean", "_zs_sd")


def flag_zscore_rolling(
    df: DataFrame, key_cols: list[str], ts_col: str, value_col: str,
    thres_zscore: float = 4.0, winsize: int = 50,
    flag_col: str = "FLAG_ZSCOREROLLING_TEST",
) -> DataFrame:
    """Centered rolling z-score over *non-null records* (reference drops NaN
    first, zscore.py:319; min_periods=3; sample SD).

    Join-free plan: instead of filtering non-nulls and self-joining back on a
    nondeterministic monotonically_increasing_id (silent-corruption risk if a
    shuffled upstream stage is retried), compute a running non-null counter
    ``_nn`` and take the centered window as a RANGE frame over ``_nn``.
    Non-null rows get consecutive distinct ``_nn`` values, so the range frame
    spans exactly the centered non-null-record window; null rows are frame
    peers of the preceding non-null row but contribute nothing to the
    null-skipping aggregates."""
    v = F.col(value_col)
    w_seq = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.withColumn("_nn", F.count(v).over(w_seq))
    wr = (
        Window.partitionBy(*key_cols)
        .orderBy("_nn")
        .rangeBetween(-((winsize - 1) // 2), winsize // 2)
    )
    rmean = F.avg(v).over(wr)
    rsd = F.nullif(F.stddev_samp(v).over(wr), F.lit(0.0))
    cnt = F.count(v).over(wr)
    z = F.abs((v - rmean) / rsd)
    return base.withColumn(
        flag_col,
        F.when(v.isNull(), F.lit(None))
        .when((cnt >= 3) & (z > thres_zscore), F.lit(2))
        .otherwise(F.lit(0))
        .cast("int"),
    ).drop("_nn")


def flag_zscore_increments(
    df: DataFrame, key_cols: list[str], ts_col: str, value_col: str,
    thres_zscore: float = 4.0,
    flag_col: str = "FLAG_INCREMENTS_TEST",
) -> DataFrame:
    """z-score on |double-diff|, |diff-prev|, |diff-next| over non-null
    records; outlier iff all three fire (incremental.py:111-152;
    double_diff_absolute, core/dfun/stats.py:526).

    Join-free plan: previous/next *non-null* neighbours come from
    last/first(ignorenulls) over running frames (forward + reverse ordered —
    never an UNBOUNDED FOLLOWING frame), so diffs match the reference's
    dropna-then-diff without filtering and self-joining back on a
    nondeterministic row id."""
    v = F.col(value_col)
    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy(*key_cols)
        .orderBy(F.desc(ts_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(v, ignorenulls=True).over(w_prev)
    nxt = F.last(v, ignorenulls=True).over(w_next)
    diffs = {
        "_dd": F.abs((v - prev) - (nxt - v)),
        "_dp": F.abs(v - prev),
        "_dn": F.abs(nxt - v),
    }
    base = df.withColumns(
        {n: F.when(v.isNotNull(), e) for n, e in diffs.items()}
    )
    gw = Window.partitionBy(*key_cols) if key_cols else Window.partitionBy()
    total = None
    for n in diffs:
        c = F.col(n)
        sd = F.nullif(F.stddev_pop(c).over(gw), F.lit(0.0))
        z = F.abs((c - F.avg(c).over(gw)) / sd)
        f = F.when(z > thres_zscore, F.lit(2)).otherwise(F.lit(0))
        total = f if total is None else total + f
    return base.withColumn(
        flag_col,
        F.when(v.isNull(), F.lit(None))
        .when(total == 6, F.lit(2))
        .otherwise(F.lit(0))
        .cast("int"),
    ).drop(*diffs.keys())


def flag_trim_low(
    df: DataFrame, key_cols: list[str], value_col: str,
    trim_limit: float,
    flag_col: str = "FLAG_TRIMLOW_TEST",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Reject values below ``trim_limit`` PLUS an equal count of the highest
    values (trim.py:236-248). ``tiebreak_cols`` makes the top-count rank
    deterministic when values tie at the cutoff."""
    parts = Window.partitionBy(*key_cols) if key_cols else Window.partitionBy()
    v = F.col(value_col)
    n_below = F.sum(F.when(v < trim_limit, 1).otherwise(0)).over(parts)
    order = [F.desc_nulls_last(value_col)] + [F.asc(c) for c in (tiebreak_cols or [])]
    rank_desc = F.row_number().over(parts.orderBy(*order))
    nn = df.filter(v.isNotNull()).withColumn("_nb", n_below).withColumn("_rk", rank_desc)
    flagged = nn.select(
        *key_cols, *[c for c in df.columns if c not in key_cols],
        F.when((v < trim_limit) | (F.col("_rk") <= F.col("_nb")), F.lit(2))
        .otherwise(F.lit(0)).cast("int").alias(flag_col),
    )
    nulls = df.filter(v.isNull()).withColumn(flag_col, F.lit(None).cast("int"))
    return flagged.unionByName(nulls)


def _hampel_kernel(value_col, flag_col, window_length, n_sigma, use_differencing,
                   daytime_col=None, n_sigma_daytime=None, n_sigma_nighttime=None):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        s = pdf[value_col]
        mask_nn = s.notna()
        s_nn = s[mask_nn]
        if use_differencing:  # d = (x_t - x_{t-1}) - (x_{t+1} - x_t), hampel.py:206-210
            s_to_test = (s_nn.diff() - s_nn.diff().shift(-1)).fillna(0)
        else:
            s_to_test = s_nn
        rolling_median = s_to_test.rolling(window_length, center=True, min_periods=1).median()
        deviations = (s_to_test - rolling_median).abs()
        rolling_mad = deviations.rolling(window_length, center=True, min_periods=1).median() + 1e-6
        if daytime_col is not None:
            # per-record day/night thresholds (hampel.py:224-234): rolling
            # stats stay whole-series, only the threshold differs
            thresholds = pd.Series(n_sigma_nighttime, index=s_to_test.index)
            thresholds[pdf.loc[mask_nn, daytime_col].astype(bool).to_numpy()] = n_sigma_daytime
        else:
            thresholds = n_sigma
        limit = HAMPEL_K * rolling_mad * thresholds
        is_outlier = (s_to_test > rolling_median + limit) | (s_to_test < rolling_median - limit)
        flag = pd.Series(pd.NA, index=s.index, dtype="Int32")
        flag[mask_nn] = is_outlier.map({True: 2, False: 0}).astype("Int32")
        out[flag_col] = flag
        return out

    return kernel


def flag_hampel(
    df: DataFrame, key_cols: list[str], ts_col: str, value_col: str,
    tier_seconds: int,
    window_length: int = 48, n_sigma: float = 5.5,
    use_differencing: bool = False,
    flag_col: str = "FLAG_HAMPEL_TEST",
    slab_seconds: int | None = None,
    daytime_col: str | None = None,
    n_sigma_daytime: float | None = None,
    n_sigma_nighttime: float | None = None,
) -> DataFrame:
    """Hampel filter: centered rolling median ± n_sigma*k*MAD (hampel.py:199-258).

    Same pandas rolling kernel as the reference, run vectorized per
    (key, slab+halo). Note: the reference windows over non-null *records*;
    halo sizing assumes the grid is mostly observed — halo is padded 4x to
    cover sparse stretches (exactness tested vs a global run).
    """
    half = (window_length // 2 + 1) * 4
    halo_seconds = half * tier_seconds
    if slab_seconds is None:
        slab_seconds = max(halo_seconds * 8, 7 * 86400)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {flag_col} int"
    return apply_with_halo(
        df, key_cols, ts_col,
        _hampel_kernel(value_col, flag_col, window_length, n_sigma, use_differencing,
                       daytime_col, n_sigma_daytime, n_sigma_nighttime),
        output_schema=schema,
        slab_seconds=slab_seconds, halo_seconds=halo_seconds,
    )


def _localsd_kernel(value_col, flag_col, winsize, n_sd, constant_sd):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        s = pdf[value_col]
        mask_nn = s.notna()
        s_nn = s[mask_nn]
        # min_periods=3 per reference localsd.py:244-248
        rmedian = s_nn.rolling(winsize, center=True, min_periods=3).median()
        sd = s_nn.std() if constant_sd else s_nn.rolling(winsize, center=True, min_periods=3).std()
        upper, lower = rmedian + n_sd * sd, rmedian - n_sd * sd
        is_outlier = (s_nn > upper) | (s_nn < lower)
        flag = pd.Series(pd.NA, index=s.index, dtype="Int32")
        flag[mask_nn] = is_outlier.map({True: 2, False: 0}).astype("Int32")
        out[flag_col] = flag
        return out

    return kernel


def flag_local_sd(
    df: DataFrame, key_cols: list[str], ts_col: str, value_col: str,
    tier_seconds: int, winsize: int = 480, n_sd: float = 7.0,
    constant_sd: bool = False,
    flag_col: str = "FLAG_LOCALSD_TEST",
    slab_seconds: int | None = None,
) -> DataFrame:
    """Rolling median ± n_sd * (rolling or whole-series) SD (localsd.py:244-248).
    constant_sd=True computes SD per (key, slab) rather than truly global —
    document-level approximation noted; use flag_zscore for global bands."""
    half = (winsize // 2 + 1) * 4
    halo_seconds = half * tier_seconds
    if slab_seconds is None:
        slab_seconds = max(halo_seconds * 8, 7 * 86400)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {flag_col} int"
    return apply_with_halo(
        df, key_cols, ts_col,
        _localsd_kernel(value_col, flag_col, winsize, n_sd, constant_sd),
        output_schema=schema, slab_seconds=slab_seconds, halo_seconds=halo_seconds,
    )


def repeat_flag(
    df: DataFrame,
    flag_fn: Callable[[DataFrame, str], DataFrame],
    value_col: str,
    flag_col: str,
    max_iter: int = 10,
) -> DataFrame:
    """Iterate-until-converged driver (flagbase.py:155-197).

    ``flag_fn(df, value_col)`` must add ``flag_col``. Iteration i tests the
    series with all previously rejected records nulled; overall flag = 2
    where any iteration flagged 2. Converges when an iteration flags 0 new
    outliers (reference typically <= ~5 iterations); each iteration is one
    Spark job + a cheap count() action.
    """
    work_col = "_work_val"
    cur = df.withColumn(work_col, F.col(value_col))
    overall = None
    prev_cached = None
    for _ in range(max_iter):
        flagged = flag_fn(cur, work_col).cache()
        n_out = flagged.filter(F.col(flag_col) == 2).count()
        if prev_cached is not None:
            prev_cached.unpersist()  # each iteration is materialized in its
            # successor's cache; keep only the latest pinned
        prev_cached = flagged
        overall = flagged
        if n_out == 0:
            break
        cur = (
            flagged.withColumn(
                "_prev_overall",
                F.greatest(
                    F.coalesce(F.col(flag_col), F.lit(0)),
                    F.coalesce(F.col("_prev_overall") if "_prev_overall" in flagged.columns else F.lit(0), F.lit(0)),
                ),
            )
            .withColumn(work_col, F.when(F.col("_prev_overall") == 2, F.lit(None)).otherwise(F.col(work_col)))
            .drop(flag_col)
        )
    final = overall
    if "_prev_overall" in final.columns:
        final = final.withColumn(
            flag_col,
            F.when(F.col(value_col).isNull(), F.lit(None))
            .otherwise(F.greatest(F.coalesce(F.col(flag_col), F.lit(0)), F.col("_prev_overall")))
            .cast("int"),
        ).drop("_prev_overall")
    return final.drop(work_col)


# ---------------------------------------------------------------------------
# QCF — overall quality-control flag (qcf.py:637-697)
# ---------------------------------------------------------------------------

def flag_sums(df: DataFrame, flag_cols: list[str] | None = None) -> DataFrame:
    """SUM_HARDFLAGS (sum of flags == 2), SUM_SOFTFLAGS (sum of flags == 1),
    SUM_FLAGS — qcf.py:680-697. Horizontal, pure column arithmetic."""
    if flag_cols is None:
        flag_cols = [c for c in df.columns if c.startswith("FLAG_") and c.endswith("_TEST")]
    hard = soft = F.lit(0)
    for c in flag_cols:
        hard = hard + F.when(F.col(c) == 2, 2).otherwise(0)
        soft = soft + F.when(F.col(c) == 1, 1).otherwise(0)
    return (
        df.withColumn("SUM_HARDFLAGS", hard)
        .withColumn("SUM_SOFTFLAGS", soft)
        .withColumn("SUM_FLAGS", F.col("SUM_HARDFLAGS") + F.col("SUM_SOFTFLAGS"))
    )


def flag_qcf(
    df: DataFrame,
    flag_cols: list[str] | None = None,
    qcf_col: str = "FLAG_QCF",
) -> DataFrame:
    """Hierarchical QCF 0/1/2 (qcf.py:637-679, no day/night thresholds):
    0 if all flags pass; 2 if >3 soft or >=1 hard; 1 if 1-3 soft and no hard."""
    out = flag_sums(df, flag_cols)
    qcf = (
        F.when(F.col("SUM_FLAGS") == 0, 0)
        .when(F.col("SUM_SOFTFLAGS") > 3, 2)
        .when(F.col("SUM_HARDFLAGS") >= 2, 2)
        .when((F.col("SUM_SOFTFLAGS").between(1, 3)) & (F.col("SUM_HARDFLAGS") == 0), 1)
    )
    return out.withColumn(qcf_col, qcf.cast("int"))


FLUX_RELEVANT_IDS = {
    "NEE": ["_FC_", "_NEE_", "_co2_flux_"], "H": ["_H_"], "LE": ["_LE_"],
    "ET": ["_ET_"], "FH2O": ["_FH2O_"], "h2o_flux": ["_h2o_flux_"],
    "TAU": ["_TAU_"], "FN2O": ["_FN2O_"], "FCH4": ["_FCH4_"],
}


def identify_relevant_ids(seriescol: str) -> list[str]:
    """Flag-name fragments relevant for a flux series (reference
    core/base/identify.py:5-35 ``identify_relevants``): variables change
    names across QC levels (FC→NEE), so flags carrying any of these
    fragments belong to the series. Falls back to the series name
    itself."""
    if seriescol.startswith("NEE_") or seriescol in ("FC", "co2_flux"):
        return FLUX_RELEVANT_IDS["NEE"]
    for prefix, ids in FLUX_RELEVANT_IDS.items():
        if prefix == "NEE":
            continue
        if seriescol == prefix or seriescol.startswith(prefix + "_"):
            return ids
    return [seriescol]


def identify_flag_columns(columns: list[str], seriescol: str,
                          exclude_ustar_ids: list[str] | None = None
                          ) -> list[str]:
    """The flag columns belonging to one flux series (reference
    core/base/identify.py:37-55 ``identify_flagcols``): FLAG_* columns
    ending _TEST/_QCF, filtered to the series' relevant name fragments,
    minus flags from OTHER USTAR scenarios (Level-3.3 keeps the current
    scenario by excluding all the others). Feed the result to
    :func:`flag_sums` / :func:`flag_qcf` as ``flag_cols``."""
    flags = [c for c in columns if str(c).startswith("FLAG_")
             and str(c).endswith(("_TEST", "_QCF"))]
    relevant = identify_relevant_ids(seriescol)
    flags = [f for f in flags if any(r in f for r in relevant)]
    if exclude_ustar_ids:
        flags = [f for f in flags
                 if not any(u in f for u in exclude_ustar_ids)]
    return flags


def restrict_application(
    df: DataFrame, ts_col: str, flag_col: str,
    application_dates: list | None,
    fill_value=None, restricted_col: str | None = None,
) -> DataFrame:
    """Apply a flag only inside given date ranges (reference
    preprocessing/qaqc/flags.py:18 ``restrict_application``): each entry
    is either a single timestamp string (matched with >= AND <= so a
    missing timestamp is a no-op, the reference's 'neat solution') or a
    ``[start, end]`` pair (both ends inclusive); everywhere else the flag
    becomes ``fill_value`` (the reference's np.nan default -> NULL here).
    Pure column expression — at 100 TB this folds into the enclosing
    stage and the range predicates are partition-prunable."""
    restricted_col = restricted_col or flag_col
    if not application_dates:
        return df.withColumn(
            restricted_col,
            F.lit(fill_value).cast(df.schema[flag_col].dataType))
    cond = None
    for date in application_dates:
        if isinstance(date, (list, tuple)):
            lo, hi = date[0], date[1]
        else:
            lo = hi = date
        c = (F.col(ts_col) >= F.lit(lo).cast("timestamp")) \
            & (F.col(ts_col) <= F.lit(hi).cast("timestamp"))
        cond = c if cond is None else (cond | c)
    fill = F.lit(fill_value).cast(df.schema[flag_col].dataType)
    return df.withColumn(
        restricted_col, F.when(cond, F.col(flag_col)).otherwise(fill))
