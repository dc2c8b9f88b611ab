"""Gap-filling: linear interpolation (record-limited) + rolling-median
expanding-tier cascade — the engine's model-free analogues of the
reference's fills.

Reference semantics:
- ``linear_interpolation`` (/root/reference/diive/gapfilling/interpolate.py:35-205):
  fill NaN runs of length <= ``limit`` records by linear interpolation;
  longer runs preserved; *inside only* (leading/trailing gaps never filled,
  interpolate.py:155-156 limit_area='inside').
- MDS cascade skeleton (/root/reference/diive/gapfilling/similarity.py:145-341):
  expanding window tiers tried in order, first success wins; per-window
  min-count gate (similarity.py:43-61); quality flag 1/2/3 + granular flag
  ``method*1000 + window`` (similarity.py:113-142). The engine replaces the
  meteorological-similarity predicate with a centered rolling median over
  observed values (SURVEY.md §7.1 M4) — same cascade shape and flag model.
- Flag model (/root/reference/diive/core/ml/common.py:225): 0 = observed,
  1 = filled (primary method), 2 = fallback; observed values never
  overwritten (tests/test_gapfilling.py:186-213 invariant).

Spark mapping: interpolation is pure window functions (last/first
ignorenulls) — whole-stage codegen, no Python. The median cascade is a
vectorized numpy kernel over slab+halo grouped maps (halo.py) so no global
sort is ever needed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from diive_spark.operators.grid import _left_join_null_safe
from diive_spark.operators.halo import apply_with_halo

FLAG_OBSERVED = 0
FLAG_INTERP = 1
FLAG_MEDIAN = 2
METHOD_INTERP = 1
METHOD_MEDIAN = 2


def linear_interpolation(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    limit: int = 3,
    filled_col: str = "filled",
    flag_col: str = "fill_flag",
    granular_col: str = "fill_granular",
    tier_seconds: int | None = None,
    slab_seconds: int | None = None,
) -> DataFrame:
    """Fill null runs of <= ``limit`` records by linear interpolation.

    Works on a regular grid (one row per slot; see grid.gridded). On a
    regular grid, interpolating on time equals pandas' positional
    method='linear'. Adds:
      - ``filled_col``: value with eligible gaps filled
      - ``flag_col``: 0 observed / 1 interpolated / null still-missing
      - ``granular_col``: METHOD_INTERP*1000 + gap run length for filled rows

    With ``tier_seconds`` the windows run per (key, time-slab) with halo
    duplication (halo = (limit+1) slots) instead of per key — turning the
    per-key single-task window into bounded parallel tasks. EXACT by
    construction: an eligible gap (<= limit slots) always sees both anchors
    inside the halo, and a gap crossing a slab boundary is measured over
    fragment+halo >= limit+1 slots, so it is correctly classified
    ineligible on both sides. Without ``tier_seconds`` the global
    single-series window semantics are kept (documented hatch)."""
    from diive_spark.operators.halo import explode_halo_slabs

    slabbed = tier_seconds is not None
    if slabbed:
        halo_seconds = (limit + 1) * tier_seconds
        if slab_seconds is None:
            # slabs big enough that halo duplication and per-task overhead
            # stay negligible (measured: 14-day slabs == the global window
            # locally with multi-key data, 2x faster isolated), small
            # enough that a year-long key still yields ~26 parallel tasks
            slab_seconds = max(halo_seconds * 8, 14 * 86400)
        df = explode_halo_slabs(df, ts_col, slab_seconds, halo_seconds)
        part_cols = [*key_cols, "_slab"]
    else:
        part_cols = list(key_cols)
    w = Window.partitionBy(*part_cols).orderBy(ts_col)
    w_prev = w.rowsBetween(Window.unboundedPreceding, 0)
    # NOTE: an UNBOUNDED FOLLOWING frame is O(n^2) in Spark's window exec
    # (re-scans to partition end per row); the equivalent reverse-ordered
    # running frame streams in O(n).
    w_next = (
        Window.partitionBy(*part_cols)
        .orderBy(F.desc(ts_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    v = F.col(value_col)
    ts_num = F.unix_timestamp(F.col(ts_col)).cast("double")
    vts = F.when(v.isNotNull(), ts_num)

    out = (
        df.withColumn("_prev_v", F.last(v, ignorenulls=True).over(w_prev))
        .withColumn("_prev_t", F.last(vts, ignorenulls=True).over(w_prev))
        .withColumn("_next_v", F.last(v, ignorenulls=True).over(w_next))
        .withColumn("_next_t", F.last(vts, ignorenulls=True).over(w_next))
        # run id: nulls in one gap share the count of preceding non-nulls
        .withColumn("_run", F.count(v).over(w_prev))
    )
    gap_w = Window.partitionBy(*part_cols, "_run")
    out = out.withColumn("_gap_len", F.sum(F.when(v.isNull(), 1).otherwise(0)).over(gap_w))

    eligible = (
        v.isNull()
        & (F.col("_gap_len") <= F.lit(limit))
        & F.col("_prev_v").isNotNull()
        & F.col("_next_v").isNotNull()
    )
    frac = (ts_num - F.col("_prev_t")) / (F.col("_next_t") - F.col("_prev_t"))
    interp = F.col("_prev_v") + (F.col("_next_v") - F.col("_prev_v")) * frac

    out = (
        out.withColumn(filled_col, F.when(v.isNotNull(), v).when(eligible, interp))
        .withColumn(
            flag_col,
            F.when(v.isNotNull(), F.lit(FLAG_OBSERVED))
            .when(eligible, F.lit(FLAG_INTERP))
            .cast("int"),
        )
        .withColumn(
            granular_col,
            F.when(eligible, F.lit(METHOD_INTERP * 1000) + F.col("_gap_len")).cast("int"),
        )
    )
    out = out.drop("_prev_v", "_prev_t", "_next_v", "_next_t", "_run", "_gap_len")
    if slabbed:
        out = out.filter(F.col("_halo") == 0).drop("_slab", "_halo")
    return out


def _median_cascade_kernel(
    value_col: str,
    filled_col: str,
    flag_col: str,
    granular_col: str,
    window_tiers: list[int],
    min_samples: int,
):
    """Numpy kernel: expanding centered-window rolling-median fill.

    For each tier w (odd record count) in order: for every still-missing
    slot, take the median of *observed* values in the centered window of w
    records; fill if >= min_samples observed values exist (first tier that
    succeeds wins — the MDS first-success rule, similarity.py:309-336).
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        filled = pdf[filled_col].to_numpy(dtype=np.float64).copy()
        flag = pdf[flag_col].to_numpy(dtype=np.float64).copy()
        granular = pdf[granular_col].to_numpy(dtype=np.float64).copy()
        obs = pd.Series(vals)  # medians always come from OBSERVED values only
        for w in window_tiers:
            missing = np.isnan(filled)
            if not missing.any():
                break
            roll = obs.rolling(window=w, center=True, min_periods=min_samples)
            med = roll.median().to_numpy()
            cnt = roll.count().to_numpy()
            ok = missing & ~np.isnan(med) & (cnt >= min_samples)
            filled[ok] = med[ok]
            flag[ok] = FLAG_MEDIAN
            granular[ok] = METHOD_MEDIAN * 1000 + w
        out = pdf.copy()
        out[filled_col] = filled
        # flags are nullable ints; NaN -> pd.NA so Arrow casts cleanly
        def to_int32(a: np.ndarray) -> pd.arrays.IntegerArray:
            mask = np.isnan(a)
            return pd.arrays.IntegerArray(
                np.where(mask, 0, a).astype("int32"), mask=mask
            )

        out[flag_col] = to_int32(flag)
        out[granular_col] = to_int32(granular)
        return out

    return kernel


def rolling_median_fill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tier_seconds: int,
    window_tiers: list[int] = (5, 13, 49),
    min_samples: int = 2,
    filled_col: str = "filled",
    flag_col: str = "fill_flag",
    granular_col: str = "fill_granular",
    slab_seconds: int | None = None,
) -> DataFrame:
    """Fallback fill for gaps interpolation left behind.

    Expects the columns produced by :func:`linear_interpolation`. Runs as a
    slab+halo grouped map: halo = max(window_tiers)//2 slots, so every
    centered window is complete inside its slab and the result equals a
    single-partition run exactly (tests/test_gapfill.py).
    """
    window_tiers = sorted(int(w) | 1 for w in window_tiers)  # force odd
    halo_slots = window_tiers[-1] // 2 + 1
    halo_seconds = halo_slots * tier_seconds
    if slab_seconds is None:
        slab_seconds = max(halo_seconds * 8, 7 * 86400)

    kernel = _median_cascade_kernel(
        value_col, filled_col, flag_col, granular_col, list(window_tiers), min_samples
    )
    keep = [c for c in df.columns]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in keep
    )
    return apply_with_halo(
        df,
        key_cols=key_cols,
        ts_col=ts_col,
        kernel=kernel,
        output_schema=schema,
        slab_seconds=slab_seconds,
        halo_seconds=halo_seconds,
    )


def storage_gapfill_expanding(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    strg_col: str,
    gate_col: str,
    filled_col: str = "_strg_filled",
    flag_col: str = "FLAG_STRG_ISFILLED",
) -> DataFrame:
    """EXPANDING rolling-median fill of a storage term — the reference's
    FluxStorageCorrectionSinglePointEddyPro._gapfill_storage_term
    (flux/lowres/storage_correction.py:229) semantics, exactly:

    - only rows where ``gate_col`` (the flux being corrected) is non-null
      participate: rows with no flux keep NULL fill and NULL flag;
    - the centered positional rolling median (min_periods=3) is computed
      over the ORIGINAL full storage series at window 3, then 5, 7, ...
      (each pass fills whatever newly becomes coverable), capped at
      2*len+1 and skipped entirely when fewer than 3 valid storage values
      exist;
    - anything still missing falls back to 0.0 (no storage contribution),
      flagged filled — every gated flux row ends up with a storage term.

    Runs as ONE grouped map per key: the reference operates on a single
    site's series, and a key here is a site(-year) — a bounded group
    (~17.5k rows/site-year at 30min). For unbounded keys use the
    slab+halo :func:`rolling_median_fill` tiers instead; this kernel
    exists for reference-exact L3.1 parity."""
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{out_fields}, {filled_col} double, {flag_col} int"

    def _kernel(pdf):
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        s = pd.to_numeric(pdf[strg_col], errors="coerce")
        gate = pdf[gate_col].notna()
        filled = s.where(gate)
        flag = pd.Series(np.where(gate, 0.0, np.nan), index=pdf.index)
        n_valid = int(s.notna().sum())
        max_window = 2 * len(s) + 1
        window = 0
        missing = gate & filled.isna()
        while n_valid >= 3 and missing.any() and window < max_window:
            window = 3 if window == 0 else window + 2
            rmed = s.rolling(window=window, center=True, min_periods=3).median()
            filled[missing] = rmed[missing]
            flag[missing & filled.notna()] = 1.0
            missing = gate & filled.isna()
        if missing.any():
            filled[missing] = 0.0
            flag[missing] = 1.0
        pdf[filled_col] = filled
        pdf[flag_col] = flag.astype("Int64")
        return pdf

    return df.groupBy(*key_cols).applyInPandas(_kernel, schema=schema)


def gapfill_cascade(
    gridded_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tier_seconds: int,
    interp_limit: int = 3,
    window_tiers: list[int] = (5, 13, 49),
    min_samples: int = 2,
) -> DataFrame:
    """Full model-free fill: interpolation (quality 1) then rolling-median
    tiers (quality 2); observed never overwritten; unfillable stay null.

    FUSED execution: one slab+halo grouped map runs BOTH stages (the
    interpolation is vectorized pandas inside the same kernel as the median
    tiers) — a single halo explode, a single (key, slab) exchange, a single
    Python stage for the whole cascade, and no per-key single-task window
    anywhere. Exact vs the staged linear_interpolation +
    rolling_median_fill pipeline (tested; interpolated values agree to
    float ulps — positional vs time-fraction arithmetic on the regular
    grid). The standalone stage functions remain for piecewise use."""
    window_tiers = sorted(int(w) | 1 for w in window_tiers)
    halo_slots = max(window_tiers[-1] // 2 + 1, interp_limit + 1)
    halo_seconds = halo_slots * tier_seconds
    slab_seconds = max(halo_seconds * 8, 7 * 86400)

    # refilling a frame that already carries fill columns must OVERWRITE
    # them (the staged path's withColumn semantics), not duplicate fields
    gridded_df = gridded_df.drop("filled", "fill_flag", "fill_granular")

    median_kernel = _median_cascade_kernel(
        value_col, "filled", "fill_flag", "fill_granular",
        list(window_tiers), min_samples,
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pd.Series(pdf[value_col].to_numpy(dtype=np.float64))
        isna = s.isna()
        grp = (~isna).cumsum()
        gap_len = isna.groupby(grp).transform("sum")
        li = s.interpolate("linear", limit_area="inside")
        elig = (isna & (gap_len <= interp_limit) & li.notna()).to_numpy()
        filled = s.to_numpy().copy()
        filled[elig] = li.to_numpy()[elig]
        work = pdf.copy()
        work["filled"] = filled
        work["fill_flag"] = np.where(~isna, FLAG_OBSERVED,
                                     np.where(elig, FLAG_INTERP, np.nan))
        work["fill_granular"] = np.where(
            elig, METHOD_INTERP * 1000 + gap_len.to_numpy(), np.nan)
        return median_kernel(work)

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in gridded_df.schema.fields]
        + ["filled double", "fill_flag int", "fill_granular int"]
    )
    return apply_with_halo(
        gridded_df, key_cols=key_cols, ts_col=ts_col, kernel=kernel,
        output_schema=schema, slab_seconds=slab_seconds,
        halo_seconds=halo_seconds,
    )


FLAG_CLIMATOLOGY = 3
METHOD_CLIMATOLOGY = 3


def climatology_fill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    each_month: bool = True,
    min_samples: int = 3,
    filled_col: str = "filled",
    flag_col: str = "fill_flag",
    granular_col: str = "fill_granular",
) -> DataFrame:
    """Last-resort fill from the time-of-day climatology — the model-free
    analogue of the reference's timestamp-features FALLBACK model
    (MlRegressorGapFillingBase, /root/reference/diive/core/ml/common.py:1175-1212:
    rows the full model can't predict get a model on timestamp features only).

    The climatology is the per (key[, month], hour, minute) mean of OBSERVED
    values (a groupBy + broadcast join-back — pure exprs; a NULL key joins
    its own climatology); still-missing slots with >= min_samples
    climatology support get flag 3, granular 3000+count capped at 3999.
    Observed and previously-filled values are never touched.
    """
    v = F.col(value_col)
    groups = [*key_cols, F.hour(ts_col).alias("_h"), F.minute(ts_col).alias("_m")]
    if each_month:
        groups.append(F.month(ts_col).alias("_mo"))
    clim = (
        df.filter(v.isNotNull())
        .groupBy(*groups)
        .agg(F.avg(v).alias("_clim"), F.count(v).alias("_clim_n"))
    )
    join_keys = [*key_cols, "_h", "_m"] + (["_mo"] if each_month else [])
    out = df.withColumn("_h", F.hour(ts_col)).withColumn("_m", F.minute(ts_col))
    if each_month:
        out = out.withColumn("_mo", F.month(ts_col))
    out = _left_join_null_safe(out, F.broadcast(clim), join_keys)

    still_missing = F.col(filled_col).isNull() if filled_col in df.columns else v.isNull()
    # materialize the predicate BEFORE mutating filled_col: withColumn
    # expressions resolve lazily against the updated frame, so reusing the
    # raw predicate after the first mutation would see the new filled values
    out = out.withColumn(
        "_elig",
        still_missing & F.col("_clim").isNotNull() & (F.col("_clim_n") >= min_samples),
    )
    eligible = F.col("_elig")
    base_filled = F.col(filled_col) if filled_col in df.columns else v
    base_flag = F.col(flag_col) if flag_col in df.columns else F.when(v.isNotNull(), F.lit(FLAG_OBSERVED))
    base_gran = F.col(granular_col) if granular_col in df.columns else F.lit(None)
    out = (
        out.withColumn(
            flag_col,
            F.when(eligible, F.lit(FLAG_CLIMATOLOGY)).otherwise(base_flag).cast("int"),
        )
        .withColumn(
            granular_col,
            F.when(
                eligible,
                F.lit(METHOD_CLIMATOLOGY * 1000) + F.least(F.col("_clim_n"), F.lit(999)),
            ).otherwise(base_gran).cast("int"),
        )
        .withColumn(filled_col, F.when(eligible, F.col("_clim")).otherwise(base_filled))
    )
    return out.drop("_h", "_m", "_mo", "_clim", "_clim_n", "_elig")


def gapfill_scores(
    gridded_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tier_seconds: int,
    holdout_frac: float = 0.25,
    seed: int = 42,
    **cascade_kwargs,
) -> DataFrame:
    """Holdout skill scores for the fill cascade — mirrors the reference's
    random 25% holdout scoring (ml/common.py scores_: r2/mae/rmse). A seeded
    deterministic hash selects observed rows to hide; the cascade fills them;
    predictions are scored against the hidden truth."""
    h = F.pmod(F.xxhash64(F.col(ts_col).cast("string"), *key_cols, F.lit(seed)), F.lit(10_000))
    is_holdout = (h < int(holdout_frac * 10_000)) & F.col(value_col).isNotNull()
    # _is_holdout MUST be materialized before value_col is nulled (withColumn
    # expressions resolve against the mutated frame)
    masked = (
        gridded_df.withColumn("_is_holdout", is_holdout)
        .withColumn("_truth", F.col(value_col))
        .withColumn(
            value_col,
            F.when(F.col("_is_holdout"), F.lit(None)).otherwise(F.col(value_col)),
        )
    )
    filled = gapfill_cascade(masked, key_cols, ts_col, value_col, tier_seconds,
                             **cascade_kwargs)
    scored = filled.filter(F.col("_is_holdout") & F.col("filled").isNotNull())
    err = F.col("filled") - F.col("_truth")
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.sum(err * err).alias("_sse"),
        F.sum(F.col("_truth") * F.col("_truth")).alias("_st2"),
        F.sum("_truth").alias("_st"),
        F.count("_truth").cast("double").alias("_n"),
    )
    # r2 = 1 - SSE / SStot, SStot from moment sums (no window-in-agg)
    sstot = F.col("_st2") - F.col("_st") * F.col("_st") / F.col("_n")
    return agg.withColumn("r2", 1 - F.col("_sse") / F.nullif(sstot, F.lit(0.0))).drop(
        "_sse", "_st2", "_st", "_n"
    )


FLAG_MODEL = 4


def linear_model_fill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    feature_cols: list[str] | None = None,
    add_timestamp_features: bool = True,
    min_train: int = 24,
    ridge: float = 1e-8,
    filled_col: str = "filled",
    flag_col: str = "fill_flag",
    granular_col: str = "fill_granular",
) -> DataFrame:
    """Model-based gap fill — the distributed closed-form analogue of the
    reference's RandomForestTS / MlRegressor fills
    (/root/reference/diive/core/ml/common.py: fit on observed rows with
    driver + timestamp features, predict the gaps, flag filled values).

    Per key, an OLS model (tiny ridge for rank safety) of value on
    ``feature_cols`` plus (optionally) cyclic timestamp features
    (sin/cos hour-of-day, sin/cos day-of-year — the reference's
    .timestamp-features set, common.py:1175) is fit via DISTRIBUTED
    cross-product sums: X'X and X'y are plain JVM aggregations (one shuffle
    on the key), the (k+1)x(k+1) normal equations are solved INSIDE the
    cluster by a batched numpy kernel over the per-key stat rows
    (mapInPandas: one tiny row per key, stacked np.linalg.solve — no
    ``.collect()``, so millions of series never bottleneck the driver), and
    predictions are pure column expressions with the per-key coefficients
    broadcast back. No per-row Python in the data path; scales as one
    groupBy.

    Only still-missing slots (null ``filled_col`` if present, else null
    value) with all features present and >= min_train observed training rows
    get filled; flag 4, granular 4000 + min(n_train, 999). Observed and
    previously-filled values are never overwritten.
    """
    import numpy as np

    feature_cols = list(feature_cols or [])
    feats: list = [F.col(c).cast("double").alias(f"_f_{c}") for c in feature_cols]
    if add_timestamp_features:
        hour = F.hour(ts_col) + F.minute(ts_col) / 60.0
        doy = F.dayofyear(ts_col).cast("double")
        feats += [
            F.sin(2 * math.pi * hour / 24.0).alias("_f_hsin"),
            F.cos(2 * math.pi * hour / 24.0).alias("_f_hcos"),
            F.sin(2 * math.pi * doy / 365.25).alias("_f_dsin"),
            F.cos(2 * math.pi * doy / 365.25).alias("_f_dcos"),
        ]
    if not feats:
        raise ValueError("no features: pass feature_cols or enable timestamp features")
    fnames = [f"_f_{c}" for c in feature_cols]
    if add_timestamp_features:
        fnames += ["_f_hsin", "_f_hcos", "_f_dsin", "_f_dcos"]

    work = df.select("*", *feats)
    v = F.col(value_col)
    all_feats_nn = None
    for n in fnames:
        c = F.col(n).isNotNull()
        all_feats_nn = c if all_feats_nn is None else (all_feats_nn & c)

    train = work.filter(v.isNotNull() & all_feats_nn)
    terms = ["_one", *fnames]
    train = train.withColumn("_one", F.lit(1.0))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, a in enumerate(terms):
        aggs.append(F.sum(F.col(a) * v).alias(f"xy_{i}"))
        for j in range(i, len(terms)):
            aggs.append(F.sum(F.col(a) * F.col(terms[j])).alias(f"xx_{i}_{j}"))
    stats = train.groupBy(*key_cols).agg(*aggs)

    k = len(terms)
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    key_fields = [f for f in stats.schema.fields if f.name in key_cols]
    coef_schema = StructType(
        key_fields
        + [StructField(f"_b{i}", DoubleType()) for i in range(k)]
        + [StructField("_n_train", IntegerType())]
    )

    def _solve(batches):
        # stacked normal-equation solve: one (k x k) system per key row,
        # all solved in a single np.linalg.solve call per Arrow batch
        for pdf in batches:
            pdf = pdf[pdf["_n"] >= min_train]
            if pdf.empty:
                continue
            m = len(pdf)
            A = np.empty((m, k, k))
            bv = np.empty((m, k))
            for i in range(k):
                bv[:, i] = pdf[f"xy_{i}"].to_numpy()
                for j in range(i, k):
                    A[:, i, j] = A[:, j, i] = pdf[f"xx_{i}_{j}"].to_numpy()
            tr = np.maximum(np.einsum("mii->m", A) / k, 1.0)
            A += (ridge * tr)[:, None, None] * np.eye(k)[None, :, :]
            beta = np.linalg.solve(A, bv)
            out = pdf[[f.name for f in key_fields]].copy()
            for i in range(k):
                out[f"_b{i}"] = beta[:, i]
            out["_n_train"] = pdf["_n"].astype("int32").to_numpy()
            yield out

    coefs = stats.mapInPandas(_solve, schema=coef_schema)

    out = _left_join_null_safe(work, F.broadcast(coefs), key_cols)
    pred = F.col("_b0")
    for i, n in enumerate(fnames, start=1):
        pred = pred + F.col(f"_b{i}") * F.col(n)

    still_missing = F.col(filled_col).isNull() if filled_col in df.columns else v.isNull()
    # materialize eligibility BEFORE mutating filled_col (lazy withColumn)
    out = out.withColumn(
        "_elig",
        still_missing & all_feats_nn & F.col("_b0").isNotNull(),
    )
    eligible = F.col("_elig")
    base_filled = F.col(filled_col) if filled_col in df.columns else v
    base_flag = (F.col(flag_col) if flag_col in df.columns
                 else F.when(v.isNotNull(), F.lit(FLAG_OBSERVED)))
    granular = F.lit(FLAG_MODEL * 1000) + F.least(F.col("_n_train"), F.lit(999))
    base_granular = F.col(granular_col) if granular_col in df.columns else F.lit(None)
    out = (
        out.withColumn(flag_col,
                       F.when(eligible, F.lit(FLAG_MODEL)).otherwise(base_flag).cast("int"))
        .withColumn(granular_col,
                    F.when(eligible, granular).otherwise(base_granular).cast("int"))
        .withColumn(filled_col, F.when(eligible, pred).otherwise(base_filled))
    )
    drop = [*fnames, "_elig", "_n_train"] + [f"_b{i}" for i in range(k)]
    return out.drop(*drop)


def longterm_model_fill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    feature_cols: list[str] | None = None,
    n_neighbors: int = 1,
    **model_kwargs,
) -> DataFrame:
    """LongTermGapFilling analogue
    (/root/reference/diive/gapfilling/longterm.py:24-371 +
    core/times/neighbors.py:8): each year is filled by a model trained on
    that year +- n_neighbors pool, and the per-year results are collected
    into one series — local models track drift across long records.

    Distributed as ONE plan: every row is exploded to the target years whose
    pool contains it (its own year +- n_neighbors), linear_model_fill trains
    one model per (key..., target_year) group through the same cross-product
    sums, and each row keeps the fill from its OWN year's model. Input rows
    are duplicated (2*n_neighbors + 1)x into the training aggregation —
    the price of per-year locality, linear and shuffle-friendly."""
    yr = F.year(ts_col)
    pool_targets = F.array(*[yr + d for d in range(-n_neighbors, n_neighbors + 1)])
    pooled = df.withColumn("_ty", F.explode(pool_targets))
    filled = linear_model_fill(
        pooled, [*key_cols, "_ty"], ts_col, value_col,
        feature_cols=feature_cols, **model_kwargs,
    )
    return filled.filter(F.col("_ty") == F.year(ts_col)).drop("_ty")


def prediction_scores(
    df: DataFrame, pred_col: str, target_col: str,
) -> DataFrame:
    """Seven regression quality metrics
    (/root/reference/diive/gapfilling/scores.py:15-50, sklearn definitions):
    mae, medae, mse, rmse, mape, maxe, r2 — one wide aggregation over
    (prediction, target) pairs; rows with a null on either side are skipped.
    mape follows sklearn: |err/target| with targets clamped away from zero
    by machine epsilon."""
    p, t = F.col(pred_col), F.col(target_col)
    pairs = df.filter(p.isNotNull() & t.isNotNull())
    err = p - t
    eps = 2.220446049250313e-16  # np.finfo(np.float64).eps, sklearn's clamp
    ape = F.abs(err) / F.greatest(F.abs(t), F.lit(eps))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.abs(err)).alias("mae"),
        F.percentile(F.abs(err), F.lit(0.5)).alias("medae"),
        F.avg(err * err).alias("mse"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(ape).alias("mape"),
        F.max(F.abs(err)).alias("maxe"),
        F.sum(err * err).alias("_sse"),
        F.sum(t * t).alias("_st2"),
        F.sum(t).alias("_st"),
        F.count(t).cast("double").alias("_n"),
    )
    sstot = F.col("_st2") - F.col("_st") * F.col("_st") / F.col("_n")
    return agg.withColumn(
        "r2", 1 - F.col("_sse") / F.nullif(sstot, F.lit(0.0))
    ).drop("_sse", "_st2", "_st", "_n")
