"""Grid/gap machinery + gap-fill cascade vs pandas oracles and seeded gaps."""

from datetime import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from diive_spark import synth
from diive_spark.operators import gapfill, grid, resample


@pytest.fixture(scope="module")
def hourly(spark):
    df = synth.inject_gaps(
        synth.with_event_time(synth.token_table(spark, 10_000, with_tokens=False))
    )
    r = resample.rollup(df, "event_time", ["n_tok"], "1h", key_cols=[]).withColumn(
        "series", F.lit("all")
    )
    return grid.gridded(r, "1h", ["series"]).cache()


def test_seeded_gaps_detected(hourly):
    gaps = grid.gap_table(hourly, ["series"], "n_tok_cnt", tier="1h").toPandas()
    gaps = gaps.sort_values("gap_start").reset_index(drop=True)
    # FIXTURES F1 gap injection: hour 7 of 2024-01-04 (1 slot) and all of
    # 2024-01-13 (24 slots). The 3-minute gap is invisible at the 1h tier.
    assert len(gaps) == 2
    assert gaps.loc[0, "gap_start"] == pd.Timestamp("2024-01-04 07:00:00")
    assert gaps.loc[0, "gap_length"] == 1
    assert gaps.loc[1, "gap_start"] == pd.Timestamp("2024-01-13 00:00:00")
    assert gaps.loc[1, "gap_end"] == pd.Timestamp("2024-01-13 23:00:00")
    assert gaps.loc[1, "gap_length"] == 24
    assert gaps.loc[1, "gap_duration_seconds"] == 24 * 3600


def test_grid_is_continuous(hourly):
    pdf = hourly.orderBy("window_start").toPandas()
    deltas = pdf["window_start"].diff().dropna().unique()
    assert list(deltas) == [pd.Timedelta(hours=1)]
    assert len(pdf) == (pdf["window_start"].max() - pdf["window_start"].min()) / pd.Timedelta(hours=1) + 1


def test_gap_stats(hourly):
    stats = grid.gap_stats(
        grid.gap_table(hourly, ["series"], "n_tok_cnt"), ["series"]
    ).toPandas()
    assert stats.loc[0, "n_gaps"] == 2
    assert stats.loc[0, "n_missing"] == 25
    assert stats.loc[0, "max_len"] == 24
    assert stats.loc[0, "longest_gap_start"] == pd.Timestamp("2024-01-13 00:00:00")


def _toy_grid(spark, values):
    ts = pd.date_range("2024-01-01", periods=len(values), freq="1h")
    pdf = pd.DataFrame({"series": "s1", "window_start": ts, "value": values})
    return spark.createDataFrame(pdf)


def test_linear_interpolation_limit(spark):
    # gaps: single (idx 2), triple (5-7), run of 5 (10-14), leading (0)
    vals = [None, 1.0, None, 3.0, 4.0, None, None, None, 8.0, 9.0,
            None, None, None, None, None, 15.0, 16.0]
    out = (
        gapfill.linear_interpolation(
            _toy_grid(spark, vals), ["series"], "window_start", "value", limit=3
        )
        .orderBy("window_start").toPandas()
    )
    got = out["filled"].to_numpy()
    # oracle: pandas interpolate inside-only, then only gaps <= 3 kept
    s = pd.Series(vals, dtype=float)
    interp = s.interpolate("linear", limit_area="inside")
    expect = s.copy()
    expect.iloc[2] = interp.iloc[2]
    expect.iloc[5:8] = interp.iloc[5:8]
    np.testing.assert_allclose(got, expect.to_numpy(), rtol=1e-12)
    # leading gap untouched, 5-run untouched
    assert np.isnan(got[0]) and np.isnan(got[10:15]).all()
    flags = out["fill_flag"].to_numpy()
    assert flags[1] == gapfill.FLAG_OBSERVED
    assert flags[2] == gapfill.FLAG_INTERP
    assert out["fill_granular"][5] == gapfill.METHOD_INTERP * 1000 + 3


def test_median_fill_cascade_and_flags(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, None, None, None, None, None,
            None, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0, 20.0]
    df = _toy_grid(spark, vals)
    out = (
        gapfill.gapfill_cascade(
            df, ["series"], "window_start", "value",
            tier_seconds=3600, interp_limit=3, window_tiers=[5, 13], min_samples=2,
        )
        .orderBy("window_start").toPandas()
    )
    filled = out["filled"].to_numpy()
    # observed never overwritten
    obs = ~pd.isna(pd.Series(vals))
    np.testing.assert_array_equal(filled[obs], np.array(vals, dtype=float)[obs])
    # the 6-run exceeds interp limit -> median tiers fill it fully
    assert not np.isnan(filled).any()
    assert set(out.loc[~obs, "fill_flag"]) == {gapfill.FLAG_MEDIAN}
    grans = set(out.loc[~obs, "fill_granular"].astype(int))
    assert grans <= {2005, 2013} and len(grans) >= 1


def test_slab_halo_equals_global(spark):
    # 200-slot series with scattered gaps; tiny slabs force many slab splits;
    # result must equal the single-slab run exactly.
    rng = np.random.default_rng(7)
    vals = rng.normal(10, 2, 200)
    miss = rng.choice(200, 40, replace=False)
    vals = vals.astype(object)
    for m in miss:
        vals[m] = None
    df = _toy_grid(spark, list(vals))

    def run(slab_seconds):
        return (
            gapfill.gapfill_cascade(
                df, ["series"], "window_start", "value",
                tier_seconds=3600, interp_limit=2, window_tiers=[5, 13],
            )
            if slab_seconds is None
            else gapfill.rolling_median_fill(
                gapfill.linear_interpolation(df, ["series"], "window_start", "value", limit=2),
                ["series"], "window_start", "value", tier_seconds=3600,
                window_tiers=[5, 13], slab_seconds=slab_seconds,
            )
        ).orderBy("window_start").toPandas()

    small_slabs = run(20 * 3600)   # 20-slot slabs, halo 7 slots
    one_big = run(10_000 * 3600)   # effectively one slab
    np.testing.assert_allclose(
        small_slabs["filled"].to_numpy(), one_big["filled"].to_numpy(), rtol=0, atol=0
    )
    pd.testing.assert_series_equal(small_slabs["fill_flag"], one_big["fill_flag"])


def test_climatology_fill_and_scores(spark):
    # two weeks hourly with a strong diel cycle; one full day missing ->
    # interp can't fill, climatology (hour-of-day mean) can
    ts = pd.date_range("2024-06-01", periods=14 * 24, freq="1h")
    vals = 10 + 5 * np.sin(2 * np.pi * ts.hour / 24)
    pdf = pd.DataFrame({"series": "s1", "window_start": ts, "value": vals})
    pdf.loc[(ts >= "2024-06-08") & (ts < "2024-06-09"), "value"] = np.nan
    df = spark.createDataFrame(pdf)

    interp = gapfill.linear_interpolation(df, ["series"], "window_start", "value", limit=3)
    out = gapfill.climatology_fill(
        interp, ["series"], "window_start", "value", each_month=True
    ).orderBy("window_start").toPandas()
    missing_day = out[(out["window_start"] >= "2024-06-08") & (out["window_start"] < "2024-06-09")]
    assert (missing_day["fill_flag"] == gapfill.FLAG_CLIMATOLOGY).all()
    # climatology of a pure diel signal reproduces it exactly
    truth = 10 + 5 * np.sin(2 * np.pi * pd.DatetimeIndex(missing_day["window_start"]).hour / 24)
    np.testing.assert_allclose(missing_day["filled"], truth, rtol=1e-12)
    # observed untouched
    obs = out[out["fill_flag"] == 0]
    np.testing.assert_allclose(obs["filled"], obs["value"], rtol=0)

    scores = gapfill.gapfill_scores(
        df, ["series"], "window_start", "value", tier_seconds=3600,
        interp_limit=3, window_tiers=[5, 13],
    ).toPandas().iloc[0]
    assert scores["n_scored"] > 30
    assert scores["r2"] > 0.9  # smooth diel signal: local fills are skilled
    assert scores["mae"] < 1.0


def test_gap_stats_by_period_matches_pandas(hourly):
    """GapStats monthly/annual breakdown + long_gaps vs pandas oracles
    implementing gapfinder.py:440-480/513-521."""
    pdf = hourly.toPandas().sort_values("window_start")
    s = pdf.set_index("window_start")["n_tok_cnt"]

    monthly = grid.gap_stats_monthly(hourly, ["series"], "n_tok_cnt").toPandas()
    monthly = monthly.set_index("MONTH").sort_index()
    exp_total = s.groupby(s.index.month).size()
    exp_missing = s.isna().groupby(s.index.month).sum()
    np.testing.assert_array_equal(monthly["total_records"], exp_total.values)
    np.testing.assert_array_equal(monthly["missing_records"], exp_missing.values)
    np.testing.assert_allclose(
        monthly["missing_pct"],
        (100 * exp_missing / exp_total.clip(lower=1)).round(2), atol=0.01,
    )
    # n_gaps: count gap starts per month (run-id trick oracle)
    runs = s.notna().cumsum()[s.isna()]
    gap_starts = s[s.isna()].groupby(runs).apply(lambda x: x.index.min())
    exp_gaps = pd.Series(gap_starts).dt.month.value_counts().sort_index()
    got_gaps = monthly["n_gaps"][monthly["n_gaps"] > 0]
    np.testing.assert_array_equal(got_gaps.values, exp_gaps.values)

    annual = grid.gap_stats_annual(hourly, ["series"], "n_tok_cnt").toPandas()
    assert (annual["total_records"] == annual["valid_records"]
            + annual["missing_records"]).all()
    y = annual.set_index("YEAR").sort_index()
    exp_valid = s.groupby(s.index.year).count()
    np.testing.assert_array_equal(y["valid_records"], exp_valid.values)

    gaps = grid.gap_table(hourly, ["series"], "n_tok_cnt")
    lg = grid.long_gaps(gaps, long_gap_records=3).toPandas()
    assert (lg["gap_length"] >= 3).all()
    assert (lg["gap_length"].values == np.sort(lg["gap_length"].values)[::-1]).all()


def test_linear_model_fill_matches_lstsq_oracle(spark):
    """linear_model_fill (RandomForestTS closed-form analogue): per-key OLS
    on driver + cyclic timestamp features via distributed cross-product sums
    must equal a numpy lstsq fit on the same training rows; gaps get flag 4,
    observed rows are untouched."""
    rng = np.random.default_rng(21)
    n = 24 * 60  # 60 days hourly
    ts = pd.date_range("2024-01-01", periods=n, freq="1h")
    hour = ts.hour.to_numpy().astype(float)
    doy = ts.dayofyear.to_numpy().astype(float)
    driver = rng.normal(10, 2, n)
    truth = (3.0 + 0.8 * driver + 2.0 * np.sin(2 * np.pi * hour / 24)
             - 1.0 * np.cos(2 * np.pi * doy / 365.25) + rng.normal(0, 0.1, n))
    vals = truth.copy()
    gaps = rng.choice(n, 200, replace=False)
    vals[gaps] = np.nan
    pdf = pd.DataFrame({"key": "a", "ts": ts, "value": vals, "driver": driver})
    df = spark.createDataFrame(pdf)
    out = gapfill.linear_model_fill(
        df, ["key"], "ts", "value", feature_cols=["driver"], ridge=0.0,
    ).orderBy("ts").toPandas()

    # oracle: numpy lstsq on the same features/training rows
    hsin, hcos = np.sin(2 * np.pi * hour / 24), np.cos(2 * np.pi * hour / 24)
    dsin, dcos = np.sin(2 * np.pi * doy / 365.25), np.cos(2 * np.pi * doy / 365.25)
    X = np.column_stack([np.ones(n), driver, hsin, hcos, dsin, dcos])
    obs = ~np.isnan(vals)
    beta = np.linalg.lstsq(X[obs], vals[obs], rcond=None)[0]
    pred = X @ beta

    filled = out["filled"].to_numpy(dtype=float)
    np.testing.assert_allclose(filled[gaps], pred[gaps], rtol=1e-8)
    # model is good: fills close to hidden truth
    assert np.abs(filled[gaps] - truth[gaps]).mean() < 0.2
    # observed rows untouched, flags correct
    np.testing.assert_allclose(filled[obs], vals[obs])
    flags = out["fill_flag"].to_numpy(dtype=float)
    assert (flags[gaps] == 4).all() and (flags[obs] == 0).all()
    gran = out["fill_granular"].to_numpy(dtype=float)
    assert (gran[gaps] == 4000 + min(obs.sum(), 999)).all()


def test_linear_model_fill_solve_is_in_plan_no_driver_collect(spark):
    """The normal-equation solve must run inside the cluster (batched numpy
    over per-key stat rows via mapInPandas), never via a driver collect —
    the plan of the returned frame therefore CONTAINS the solve stage."""
    ts = pd.date_range("2024-01-01", periods=200, freq="1h")
    vals = np.sin(np.arange(200) / 5.0)
    vals[50:60] = np.nan
    pdf = pd.DataFrame({"key": "a", "ts": ts, "value": vals})
    out = gapfill.linear_model_fill(spark.createDataFrame(pdf), ["key"], "ts", "value")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # solve is part of the lazy plan
    # empty-trainable case keeps the same output schema (no data-dependent
    # schema), coefficients just never match -> base path everywhere
    empty = gapfill.linear_model_fill(
        spark.createDataFrame(pdf), ["key"], "ts", "value", min_train=10**6
    )
    assert [f.name for f in empty.schema.fields] == [f.name for f in out.schema.fields]
    got = empty.orderBy("ts").toPandas()
    assert got["filled"].isna().sum() == 10


def test_linear_model_fill_respects_prior_fills_and_min_train(spark):
    ts = pd.date_range("2024-01-01", periods=30, freq="1h")
    vals = [1.0] * 10 + [None] * 10 + [2.0] * 10  # interior 10-slot gap
    pdf = pd.DataFrame({"key": "a", "ts": ts, "value": vals})
    df = spark.createDataFrame(pdf)
    # min_train > observed -> nothing fills, frame passes through with flags
    out = gapfill.linear_model_fill(df, ["key"], "ts", "value",
                                    min_train=50).toPandas()
    assert out["filled"].isna().sum() == 10
    # chained after interpolation: already-filled slots are never overwritten
    g = gapfill.linear_interpolation(df, ["key"], "ts", "value", limit=30)
    chained = gapfill.linear_model_fill(g, ["key"], "ts", "value",
                                        min_train=5).orderBy("ts").toPandas()
    assert (chained["fill_flag"][10:20] == 1).all()  # interp won, model skipped


def test_longterm_model_fill_uses_year_local_models(spark):
    """LongTermGapFilling analogue: a drifting relationship (slope changes
    per year) is tracked by per-year pools where a single global model
    cannot — and each row keeps its own year's fill."""
    rng = np.random.default_rng(33)
    frames = []
    for i, year in enumerate([2019, 2020, 2021, 2022]):
        n = 24 * 40
        ts = pd.date_range(f"{year}-03-01", periods=n, freq="1h")
        driver = rng.normal(10, 2, n)
        slope = [1.0, 2.0, 4.0, 8.0][i]  # strong drift
        vals = slope * driver + rng.normal(0, 0.05, n)
        frames.append(pd.DataFrame({"key": "a", "ts": ts,
                                    "value": vals, "driver": driver}))
    pdf = pd.concat(frames).reset_index(drop=True)
    truth = pdf["value"].copy()
    gaps = rng.choice(len(pdf), 300, replace=False)
    pdf.loc[gaps, "value"] = np.nan
    df = spark.createDataFrame(pdf)

    lt = gapfill.longterm_model_fill(
        df, ["key"], "ts", "value", feature_cols=["driver"],
        add_timestamp_features=False, n_neighbors=1,
    ).orderBy("ts").toPandas()
    glob = gapfill.linear_model_fill(
        df, ["key"], "ts", "value", feature_cols=["driver"],
        add_timestamp_features=False,
    ).orderBy("ts").toPandas()

    lt0 = gapfill.longterm_model_fill(
        df, ["key"], "ts", "value", feature_cols=["driver"],
        add_timestamp_features=False, n_neighbors=0,
    ).orderBy("ts").toPandas()

    t = truth.to_numpy()[np.sort(gaps)]
    lt_err = np.abs(lt["filled"].to_numpy()[np.sort(gaps)] - t).mean()
    lt0_err = np.abs(lt0["filled"].to_numpy()[np.sort(gaps)] - t).mean()
    glob_err = np.abs(glob["filled"].to_numpy()[np.sort(gaps)] - t).mean()
    # year +- 1 pools average neighbouring slopes: much better than global
    assert lt_err < glob_err / 2
    # pure per-year models recover each year's relationship near-exactly
    assert lt0_err < 0.1
    assert len(lt) == len(pdf)  # one row per input row, own-year fill kept
    assert (lt["fill_flag"].to_numpy()[np.sort(gaps)] == 4).all()


def test_stepwise_local_sd_multipass(spark):
    from diive_spark.operators.stepwise import StepwiseScreening

    rng = np.random.default_rng(8)
    ts = pd.date_range("2024-01-01", periods=600, freq="30min")
    vals = 10 + np.sin(np.linspace(0, 20, 600)) + rng.normal(0, 0.3, 600)
    vals[[100, 300]] = [40.0, -25.0]   # huge spikes: caught by pass 1
    vals[200] = vals[200] + 4.0        # subtler: needs the tighter pass 2
    df = spark.createDataFrame(pd.DataFrame({"key": "a", "ts": ts, "value": vals}))
    out = (
        StepwiseScreening(df, ["key"], "ts", "value")
        .flag_local_sd(winsize=[96, 48], n_sd=[5.0, 3.0])
        .finalize()
    ).toPandas().sort_values("ts").reset_index(drop=True)
    flag_cols = [c for c in out.columns if "LOCALSD" in c]
    assert len(flag_cols) == 2
    assert out.loc[100, "FLAG_QCF"] == 2 and out.loc[300, "FLAG_QCF"] == 2
    assert out.loc[200, "FLAG_QCF"] == 2
    assert (out["FLAG_QCF"] == 2).sum() <= 10


def test_prediction_scores_match_numpy(spark):
    """All seven sklearn-definition metrics vs numpy formulas."""
    rng = np.random.default_rng(13)
    t = rng.normal(10, 3, 500)
    p = t + rng.normal(0, 1, 500)
    pdf = pd.DataFrame({"pred": p, "target": t})
    pdf.loc[0, "pred"] = None  # skipped pair
    got = gapfill.prediction_scores(
        spark.createDataFrame(pdf), "pred", "target").toPandas().iloc[0]
    pp, tt = p[1:], t[1:]
    err = pp - tt
    np.testing.assert_allclose(got["mae"], np.abs(err).mean(), rtol=1e-12)
    np.testing.assert_allclose(got["medae"], np.median(np.abs(err)), rtol=1e-12)
    np.testing.assert_allclose(got["mse"], (err ** 2).mean(), rtol=1e-12)
    np.testing.assert_allclose(got["rmse"], np.sqrt((err ** 2).mean()), rtol=1e-12)
    np.testing.assert_allclose(got["mape"], np.abs(err / tt).mean(), rtol=1e-9)
    np.testing.assert_allclose(got["maxe"], np.abs(err).max(), rtol=1e-12)
    r2 = 1 - (err ** 2).sum() / ((tt - tt.mean()) ** 2).sum()
    np.testing.assert_allclose(got["r2"], r2, rtol=1e-10)
    assert got["n"] == 499


def test_slabbed_interpolation_equals_global(spark):
    """tier_seconds slab-izes the interpolation windows (per-(key, slab)
    parallelism); the result must EQUAL the global per-key window exactly —
    including gaps straddling slab boundaries (classified by full length)
    and series-edge gaps (never filled)."""
    rng = np.random.default_rng(33)
    n = 5000
    ts = pd.date_range("2024-01-01", periods=n, freq="1min")
    vals = rng.normal(10, 2, n)
    # plant gaps of many lengths incl. ones crossing the 128-min slab grid
    i = 50
    while i < n - 60:
        glen = int(rng.integers(1, 8))
        vals[i:i + glen] = np.nan
        i += glen + int(rng.integers(5, 40))
    vals[:2] = np.nan    # leading gap: never filled
    vals[-3:] = np.nan   # trailing gap: never filled
    pdf = pd.DataFrame({"key": "a", "ts": ts, "value": vals})
    df = spark.createDataFrame(pdf)
    glob = gapfill.linear_interpolation(df, ["key"], "ts", "value", limit=3) \
        .orderBy("ts").toPandas()
    slab = gapfill.linear_interpolation(df, ["key"], "ts", "value", limit=3,
                                        tier_seconds=60, slab_seconds=128 * 60) \
        .orderBy("ts").toPandas()
    assert len(slab) == n
    for c in ("filled", "fill_flag", "fill_granular"):
        np.testing.assert_array_equal(
            glob[c].to_numpy(dtype=float), slab[c].to_numpy(dtype=float),
            err_msg=c)
    # the slabbed plan actually partitions by slab (no per-key-only window)
    plan = gapfill.linear_interpolation(
        df, ["key"], "ts", "value", limit=3, tier_seconds=60
    )._jdf.queryExecution().executedPlan().toString()
    assert "_slab" in plan


def test_fused_cascade_equals_staged_pipeline(spark):
    """gapfill_cascade (single fused grouped map) must equal the staged
    linear_interpolation -> rolling_median_fill pipeline: identical flags
    and values (interp values to float ulps: positional vs time-fraction
    arithmetic)."""
    rng = np.random.default_rng(44)
    vals = rng.normal(5, 1, 400).astype(object)
    i = 5
    while i < 390:
        glen = int(rng.integers(1, 9))
        for j in range(i, min(i + glen, 390)):
            vals[j] = None
        i += glen + int(rng.integers(4, 25))
    df = _toy_grid(spark, list(vals))
    fused = gapfill.gapfill_cascade(
        df, ["series"], "window_start", "value",
        tier_seconds=3600, interp_limit=3, window_tiers=[5, 13],
    ).orderBy("window_start").toPandas()
    staged = gapfill.rolling_median_fill(
        gapfill.linear_interpolation(df, ["series"], "window_start", "value",
                                     limit=3),
        ["series"], "window_start", "value", tier_seconds=3600,
        window_tiers=[5, 13],
    ).orderBy("window_start").toPandas()
    pd.testing.assert_series_equal(fused["fill_flag"], staged["fill_flag"])
    pd.testing.assert_series_equal(fused["fill_granular"], staged["fill_granular"])
    np.testing.assert_allclose(fused["filled"].to_numpy(float),
                               staged["filled"].to_numpy(float), rtol=1e-12)


def test_fused_cascade_plan_is_single_python_stage(spark):
    """The fused cascade must stay ONE grouped map: a single
    FlatMapGroupsInPandas (interp lives inside the median kernel) and no
    per-key-only Window — the structure behind the 37% bench win."""
    df = _toy_grid(spark, [1.0, None, 3.0, None, None, 6.0] * 20)
    plan = gapfill.gapfill_cascade(
        df, ["series"], "window_start", "value",
        tier_seconds=3600, interp_limit=3, window_tiers=[5, 13],
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Window" not in plan  # interpolation no longer runs as windows


@pytest.mark.parametrize("width", [1, 16])
def test_halo_exchange_is_the_core_count_wide(spark, width):
    """The slab exchange is the core count wide whatever the input's width
    (here a checkpoint of 1 or 16 partitions), and it keeps every row."""
    from diive_spark.operators.halo import apply_with_halo

    df = _toy_grid(spark, [float(i) for i in range(200)]).repartition(width).localCheckpoint()
    out = apply_with_halo(df, ["series"], "window_start", lambda pdf: pdf,
                          "series string, window_start timestamp, value double",
                          slab_seconds=20 * 3600, halo_seconds=3 * 3600)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["value"] for r in out.collect()) == [float(i) for i in range(200)]


def _null_key_rollup(spark, minutes):
    """A 1m rollup of one point per listed minute, keyed by ``k`` (None is a
    NULL key); value = minute + 1."""
    rows = [(k, datetime(2024, 1, 1, 0, m), float(m + 1))
            for k, ms in minutes.items() for m in ms]
    raw = spark.createDataFrame(rows, "k string, event_time timestamp, v double")
    return resample.rollup(raw, "event_time", ["v"], "1m", key_cols=["k"])


def test_null_key_keeps_its_values_through_the_grid(spark):
    """A NULL group key is a series of its own: its observed windows stay
    observed on the grid, it has no phantom gap, and the gap-fill cascade
    keeps its values."""
    g = grid.gridded(_null_key_rollup(spark, {"a": [0, 2], None: [0, 1, 2]}), "1m", ["k"])
    pdf = g.toPandas()
    null = pdf[pdf["k"].isna()].sort_values("window_start")
    assert list(null["v_mean"]) == [1.0, 2.0, 3.0]
    assert pdf[pdf["k"] == "a"]["v_mean"].isna().sum() == 1

    gaps = grid.gap_table(g, ["k"], "v_mean").toPandas()
    assert list(gaps["k"]) == ["a"] and list(gaps["gap_length"]) == [1]

    f = gapfill.gapfill_cascade(g, ["k"], "window_start", "v_mean", 60).toPandas()
    null = f[f["k"].isna()].sort_values("window_start")
    assert list(null["filled"]) == [1.0, 2.0, 3.0]


def test_gap_stats_monthly_counts_null_key_gaps(spark):
    """n_gaps of a NULL key counts its gaps instead of reading 0."""
    g = grid.gridded(_null_key_rollup(spark, {"a": [0, 1, 2], None: [0, 2]}), "1m", ["k"])
    stats = grid.gap_stats_monthly(g, ["k"], "v_mean").toPandas()
    got = {k: n for k, n in zip(stats["k"].fillna("NULL"), stats["n_gaps"])}
    assert got == {"a": 0, "NULL": 1}


@pytest.mark.parametrize("fill", ["climatology", "linear_model"])
def test_null_key_gaps_are_filled(spark, fill):
    """climatology_fill and linear_model_fill fill a NULL key's gaps from
    that key's own climatology or model, as they do for any other key."""
    ts = pd.date_range("2024-01-01", periods=6 * 24, freq="1h")
    vals = 10 + 5 * np.sin(2 * np.pi * ts.hour / 24)
    pdf = pd.concat([pd.DataFrame({"k": k, "window_start": ts, "value": vals + i})
                     for i, k in enumerate(["a", None])], ignore_index=True)
    pdf.loc[pdf["window_start"] == ts[30], "value"] = np.nan  # one gap per key
    df = spark.createDataFrame(pdf, "k string, window_start timestamp, value double")
    if fill == "climatology":
        out, flag = gapfill.climatology_fill(df, ["k"], "window_start", "value"), gapfill.FLAG_CLIMATOLOGY
    else:
        out, flag = gapfill.linear_model_fill(df, ["k"], "window_start", "value"), gapfill.FLAG_MODEL
    out = out.toPandas()
    assert len(out) == 2 * len(ts)
    for k, part in out.groupby(out["k"].fillna("NULL")):
        assert part["filled"].notna().all(), k
        assert list(part[part["window_start"] == ts[30]]["fill_flag"]) == [flag], k
    # the NULL key's value came from its own series (offset 1), not key a's
    null_fill = out[out["k"].isna() & (out["window_start"] == ts[30])]["filled"].iloc[0]
    a_fill = out[(out["k"] == "a") & (out["window_start"] == ts[30])]["filled"].iloc[0]
    assert null_fill == pytest.approx(a_fill + 1, abs=1e-4)


def _explode_halo_slabs_oracle(df, ts_col, slab_seconds, halo_seconds):
    """The struct-array form of halo.explode_halo_slabs: the slab of the
    row, plus the next slab when the row lies within halo of its slab's end
    and the previous one when it lies within halo of its start."""
    epoch = F.unix_timestamp(F.col(ts_col))
    slab_id = F.floor(epoch / F.lit(slab_seconds))
    pos_in_slab = F.pmod(epoch, F.lit(slab_seconds))
    targets = F.array_compact(F.array(
        F.struct(slab_id.alias("s"), F.lit(0).cast("tinyint").alias("h")),
        F.when(pos_in_slab >= F.lit(slab_seconds - halo_seconds),
               F.struct((slab_id + 1).alias("s"), F.lit(1).cast("tinyint").alias("h"))),
        F.when(pos_in_slab < F.lit(halo_seconds),
               F.struct((slab_id - 1).alias("s"), F.lit(1).cast("tinyint").alias("h"))),
    ))
    return (df.withColumn("_t", F.explode(targets))
            .withColumn("_slab", F.col("_t.s")).withColumn("_halo", F.col("_t.h")).drop("_t"))


@pytest.mark.parametrize("slab_seconds,halo_seconds", [(20 * 3600, 3 * 3600), (600, 299), (7 * 86400, 3600)])
def test_halo_explode_equals_the_struct_form(spark, slab_seconds, halo_seconds):
    """The sequence explode gives every row the same (slab, halo) copies as
    the struct-array form, at slab boundaries +-1 s, at +-halo around them,
    and before 1970."""
    from diive_spark.operators.halo import explode_halo_slabs

    h, s = halo_seconds, slab_seconds
    offsets = [-h - 1, -h, -h + 1, -1, 0, 1, h - 1, h, h + 1, s // 2]
    epochs = sorted({k * s + o for k in range(-40, 41) for o in offsets})
    pdf = pd.DataFrame({"k": "x", "epoch": epochs})
    df = spark.createDataFrame(pdf).withColumn("ts", F.timestamp_seconds("epoch"))
    got = explode_halo_slabs(df, "ts", s, h)
    want = _explode_halo_slabs_oracle(df, "ts", s, h)
    assert got.dtypes == want.dtypes
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert epochs[0] < 0 and got.filter("_halo = 1").count() > 0
