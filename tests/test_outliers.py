"""Outlier flags vs pandas oracles implementing the reference formulas,
plus the QCF decision table (qcf.py:637-697)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from diive_spark.operators import outliers


def _series_df(spark, vals, freq="30min"):
    ts = pd.date_range("2022-07-01 00:15", periods=len(vals), freq=freq)
    pdf = pd.DataFrame({"series": "s1", "ts": ts, "value": vals})
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def noisy(spark):
    rng = np.random.default_rng(42)
    base = 10 + 3 * np.sin(np.linspace(0, 20, 800)) + rng.normal(0, 0.4, 800)
    spikes = rng.choice(800, 24, replace=False)
    base[spikes] += rng.uniform(-15, 14, 24) * np.nanstd(base)
    base[[50, 51, 52]] = np.nan  # some missing records
    return _series_df(spark, base)


def test_absolute_limits(spark):
    df, pdf = _series_df(spark, [1.0, 5.0, None, 12.0, -3.0])
    got = (
        outliers.flag_absolute_limits(df, "value", 0.0, 10.0)
        .orderBy("ts").toPandas()["FLAG_ABSLIM_TEST"]
    )
    assert list(got.fillna(-1)) == [0, 0, -1, 2, 2]


def test_manual_removal_ranges_timestamps_and_nulls(spark):
    """flag_manual_removal (reference ManualRemoval,
    diive/pkgs/outlierdetection/manualremoval.py): inclusive ranges + exact
    timestamps flag 2, everything else 0, null values flag null."""
    df, pdf = _series_df(spark, [1.0, 2.0, None, 4.0, 5.0, 6.0])
    ts0 = pdf["ts"].iloc[0]
    fmt = "%Y-%m-%d %H:%M:%S"
    # range covering rows 1-2 (inclusive both ends) + exact stamp on row 4
    got = outliers.flag_manual_removal(
        df, "ts", "value",
        ranges=[(pdf["ts"].iloc[1].strftime(fmt), pdf["ts"].iloc[2].strftime(fmt))],
        timestamps=[pdf["ts"].iloc[4].strftime(fmt)],
    ).orderBy("ts").toPandas()["FLAG_MANUAL_TEST"]
    # row 2 is in the range but its VALUE is null -> flag null (missing),
    # matching every other flag family's null contract
    assert list(got.fillna(-1)) == [0, 2, -1, 0, 2, 0]
    # no ranges / no timestamps: nothing flagged
    got2 = outliers.flag_manual_removal(df, "ts", "value").orderBy(
        "ts").toPandas()["FLAG_MANUAL_TEST"]
    assert list(got2.fillna(-1)) == [0, 0, -1, 0, 0, 0]
    assert str(ts0) == str(pdf["ts"].iloc[0])


def test_zscore_global_matches_numpy(noisy):
    df, pdf = noisy
    got = (
        outliers.flag_zscore(df, ["series"], "value", thres_zscore=4.0)
        .orderBy("ts").toPandas()["FLAG_ZSCORE_TEST"]
    )
    s = pdf["value"]
    z = np.abs((s - s.mean()) / s.std(ddof=0))  # np.std => population
    expect = pd.Series(np.where(z > 4.0, 2, 0)).where(s.notna())
    assert (got.fillna(-1) == expect.fillna(-1)).all()
    assert (got == 2).sum() > 0


def test_zscore_null_group_keeps_its_flags(spark):
    # a NULL series / day-night group is a group of its own, as in pandas
    # groupby(dropna=False); a plain-equality join-back lost its stats
    rng = np.random.default_rng(7)
    vals = rng.normal(0, 1, 120)
    vals[30] = 40.0   # outlier in the NULL series
    vals[90] = 40.0   # outlier in series "a"
    pdf = pd.DataFrame({
        "i": range(120),
        "series": [None] * 60 + ["a"] * 60,
        "daytime": ([None] * 30 + [1] * 30) * 2,
        "value": vals,
    })
    df = spark.createDataFrame(pdf, "i long, series string, daytime int, value double")
    for groups in (None, ["daytime"]):
        got = (outliers.flag_zscore(df, ["series"], "value", 4.0, group_cols=groups)
               .orderBy("i").toPandas()["FLAG_ZSCORE_TEST"])
        g = pdf.groupby(["series", *(groups or [])], dropna=False)["value"]
        z = ((pdf["value"] - g.transform("mean")) / g.transform(lambda s: s.std(ddof=0))).abs()
        expect = np.where(z > 4.0, 2, 0)
        assert (got.to_numpy() == expect).all(), groups
        assert got[30] == 2 and got[90] == 2


def test_zscore_rolling_matches_pandas(noisy):
    df, pdf = noisy
    got = (
        outliers.flag_zscore_rolling(df, ["series"], "ts", "value", 4.0, winsize=50)
        .orderBy("ts").toPandas()["FLAG_ZSCOREROLLING_TEST"]
    )
    s = pdf["value"].dropna()
    rmean = s.rolling(50, center=True, min_periods=3).mean()
    rsd = s.rolling(50, center=True, min_periods=3).std()
    z = np.abs((s - rmean) / rsd)
    expect = pd.Series(np.where(z > 4.0, 2, 0), index=s.index).reindex(pdf.index)
    assert (got.fillna(-1) == expect.fillna(-1)).all()
    assert (got == 2).sum() > 0


def test_zscore_increments_matches_pandas(noisy):
    df, pdf = noisy
    got = (
        outliers.flag_zscore_increments(df, ["series"], "ts", "value", 4.0)
        .orderBy("ts").toPandas()["FLAG_INCREMENTS_TEST"]
    )
    s = pdf["value"].dropna()
    dd = np.abs(s.diff() - s.diff().shift(-1))
    dp, dn = np.abs(s.diff()), np.abs(s.shift(-1) - s)
    total = pd.Series(0, index=s.index)
    for d in (dd, dp, dn):
        z = np.abs((d - d.mean()) / d.std(ddof=0))
        total = total + np.where(z > 4.0, 2, 0)
    expect = pd.Series(np.where(total == 6, 2, 0), index=s.index).reindex(pdf.index)
    assert (got.fillna(-1) == expect.fillna(-1)).all()
    assert (got == 2).sum() > 0


def test_hampel_matches_reference_formula(noisy):
    df, pdf = noisy
    got = (
        outliers.flag_hampel(df, ["series"], "ts", "value",
                             tier_seconds=1800, window_length=48, n_sigma=5.5)
        .orderBy("ts").toPandas()["FLAG_HAMPEL_TEST"]
    )
    s = pdf["value"].dropna()
    rmed = s.rolling(48, center=True, min_periods=1).median()
    rmad = (s - rmed).abs().rolling(48, center=True, min_periods=1).median() + 1e-6
    lim = outliers.HAMPEL_K * rmad * 5.5
    expect_nn = pd.Series(np.where((s > rmed + lim) | (s < rmed - lim), 2, 0), index=s.index)
    expect = expect_nn.reindex(pdf.index)
    assert (got.fillna(-1) == expect.fillna(-1)).all()
    assert (got == 2).sum() > 0


def test_hampel_double_differencing(noisy):
    df, pdf = noisy
    got = (
        outliers.flag_hampel(df, ["series"], "ts", "value",
                             tier_seconds=1800, window_length=48, n_sigma=5.5,
                             use_differencing=True)
        .orderBy("ts").toPandas()["FLAG_HAMPEL_TEST"]
    )
    s = pdf["value"].dropna()
    d = (s.diff() - s.diff().shift(-1)).fillna(0)
    rmed = d.rolling(48, center=True, min_periods=1).median()
    rmad = (d - rmed).abs().rolling(48, center=True, min_periods=1).median() + 1e-6
    lim = outliers.HAMPEL_K * rmad * 5.5
    expect = pd.Series(np.where((d > rmed + lim) | (d < rmed - lim), 2, 0), index=s.index).reindex(pdf.index)
    assert (got.fillna(-1) == expect.fillna(-1)).all()


def test_trim_low(spark):
    vals = [5.0, -8.0, 3.0, 9.0, -7.0, 4.0, 8.0, 1.0, None]
    df, _ = _series_df(spark, vals)
    got = outliers.flag_trim_low(df, ["series"], "value", trim_limit=-5.0).orderBy("ts").toPandas()
    f = got["FLAG_TRIMLOW_TEST"]
    # 2 values below -5 -> those two PLUS the top-2 (9, 8) are rejected
    rejected_vals = set(got.loc[f == 2, "value"])
    assert rejected_vals == {-8.0, -7.0, 9.0, 8.0}
    assert pd.isna(f[got["value"].isna()]).all()


def test_repeat_until_converged(spark):
    # One huge spike masks a smaller one: single-pass z-score misses the
    # second; the repeat loop removes the first, then catches the second.
    rng = np.random.default_rng(1)
    vals = rng.normal(0, 1, 500)
    vals[100] = 400.0
    vals[200] = 40.0
    df, pdf = _series_df(spark, vals)

    single = outliers.flag_zscore(df, ["series"], "value", 4.0)
    assert single.filter("FLAG_ZSCORE_TEST = 2").count() == 1

    def fn(d, value_col):
        return outliers.flag_zscore(d, ["series"], value_col, 4.0, flag_col="FLAG_ZSCORE_TEST")

    repeated = outliers.repeat_flag(df, fn, "value", "FLAG_ZSCORE_TEST")
    out = repeated.orderBy("ts").toPandas()
    flagged_idx = set(np.where(out["FLAG_ZSCORE_TEST"] == 2)[0])
    assert {100, 200} <= flagged_idx


def test_qcf_decision_table(spark):
    # Hand-built flag columns -> expected QCF (qcf.py:637-679).
    rows = [
        # (f1, f2, f3, f4, f5, expected)
        (0, 0, 0, 0, 0, 0),   # all pass
        (1, 0, 0, 0, 0, 1),   # one soft
        (1, 1, 1, 0, 0, 1),   # three soft
        (1, 1, 1, 1, 0, 2),   # four soft -> reject
        (2, 0, 0, 0, 0, 2),   # one hard -> reject
        (1, 2, 0, 0, 0, 2),   # soft + hard -> reject
    ]
    pdf = pd.DataFrame(
        [r[:5] for r in rows],
        columns=[f"FLAG_{i}_X_TEST" for i in range(5)],
    )
    got = outliers.flag_qcf(spark.createDataFrame(pdf)).toPandas()
    assert list(got["FLAG_QCF"]) == [r[5] for r in rows]
    assert list(got["SUM_HARDFLAGS"]) == [0, 0, 0, 0, 2, 2]
    assert list(got["SUM_SOFTFLAGS"]) == [0, 1, 3, 4, 0, 1]


def test_hampel_day_night_thresholds(noisy):
    df, pdf = noisy
    from pyspark.sql import functions as F
    # mark alternating halves daytime; strict daytime threshold flags more
    df2 = df.withColumn("DAYTIME", (F.hour("ts") < 12).cast("int"))
    got = (
        outliers.flag_hampel(df2, ["series"], "ts", "value", tier_seconds=1800,
                             window_length=48, daytime_col="DAYTIME",
                             n_sigma_daytime=2.0, n_sigma_nighttime=8.0)
        .orderBy("ts").toPandas()
    )
    s = pdf["value"].dropna()
    rmed = s.rolling(48, center=True, min_periods=1).median()
    rmad = (s - rmed).abs().rolling(48, center=True, min_periods=1).median() + 1e-6
    is_day = pd.DatetimeIndex(pdf.loc[s.index, "ts"]).hour < 12
    thr = np.where(is_day, 2.0, 8.0)
    lim = outliers.HAMPEL_K * rmad * thr
    expect = pd.Series(np.where((s > rmed + lim) | (s < rmed - lim), 2, 0),
                       index=s.index).reindex(pdf.index)
    assert (got["FLAG_HAMPEL_TEST"].fillna(-1) == expect.fillna(-1)).all()
    assert (got["FLAG_HAMPEL_TEST"] == 2).sum() > 0


def test_constant_series_flags_nothing(spark):
    # review regression: zero SD must not raise ANSI DIVIDE_BY_ZERO
    df, _ = _series_df(spark, [5.0] * 50)
    z = outliers.flag_zscore(df, ["series"], "value", 4.0).toPandas()
    assert (z["FLAG_ZSCORE_TEST"] == 0).all()
    zi = outliers.flag_zscore_increments(df, ["series"], "ts", "value", 4.0).toPandas()
    assert (zi["FLAG_INCREMENTS_TEST"] == 0).all()
    zr = outliers.flag_zscore_rolling(df, ["series"], "ts", "value", 4.0, 10).toPandas()
    assert (zr["FLAG_ZSCOREROLLING_TEST"] == 0).all()


def test_rolling_zscore_duplicate_timestamps_no_fanout(spark):
    # review regression: join-back must not duplicate rows on dup (key, ts)
    import pandas as pd
    ts = pd.date_range("2024-01-01", periods=10, freq="1h")
    pdf = pd.DataFrame({"series": "s1", "ts": list(ts) + [ts[3]],
                        "value": list(range(10)) + [99.0]})
    df = spark.createDataFrame(pdf)
    out = outliers.flag_zscore_rolling(df, ["series"], "ts", "value", 4.0, 5)
    assert out.count() == 11


def test_local_sd_matches_reference_formula(noisy):
    """LocalSD vs a pandas oracle implementing localsd.py:244-248 exactly:
    dropna (localsd.py:286), rolling median/SD center=True min_periods=3,
    flag 2 outside rmedian +- n_sd * SD."""
    df, pdf = noisy
    winsize, n_sd = 48, 3.0
    got = (
        outliers.flag_local_sd(df, ["series"], "ts", "value",
                               tier_seconds=1800, winsize=winsize, n_sd=n_sd)
        .orderBy("ts").toPandas()["FLAG_LOCALSD_TEST"]
    )
    s = pdf.set_index("ts")["value"].dropna()
    rmedian = s.rolling(winsize, center=True, min_periods=3).median()
    sd = s.rolling(winsize, center=True, min_periods=3).std()
    rejected = (s > rmedian + n_sd * sd) | (s < rmedian - n_sd * sd)
    expect = pd.Series(np.where(rejected, 2, 0), index=s.index).reindex(
        pdf.set_index("ts").index
    )
    np.testing.assert_array_equal(got.to_numpy(dtype=float),
                                  expect.to_numpy(dtype=float))
    assert (got == 2).sum() > 0  # the seeded spikes are actually caught


def test_local_sd_constant_sd_single_slab(spark):
    """constant_sd=True: whole-series SD band (slab-local by design; a
    single-slab series matches the reference exactly)."""
    rng = np.random.default_rng(1)
    vals = rng.normal(5, 1, 300)
    vals[[30, 200]] = [30.0, -20.0]
    df, pdf = _series_df(spark, vals)
    got = (
        outliers.flag_local_sd(df, ["series"], "ts", "value", tier_seconds=1800,
                               winsize=48, n_sd=5.0, constant_sd=True)
        .orderBy("ts").toPandas()["FLAG_LOCALSD_TEST"]
    )
    s = pdf.set_index("ts")["value"].dropna()
    rmedian = s.rolling(48, center=True, min_periods=3).median()
    sd = s.std()
    rejected = (s > rmedian + 5.0 * sd) | (s < rmedian - 5.0 * sd)
    np.testing.assert_array_equal(got.to_numpy(dtype=float),
                                  np.where(rejected, 2, 0).astype(float))
    assert set(np.where(got == 2)[0]) == {30, 200}


def test_identify_flag_columns_matches_executed_reference():
    """outliers.identify_flag_columns / identify_relevant_ids == the
    reference core/base/identify.py EXECUTED (relevance fragments +
    USTAR-scenario exclusion)."""
    from diive_spark.operators import outliers
    from tests.reference_harness import run_reference
    cols = ["FLAG_L2_NEE_VM97_SPIKE_HF_TEST", "FLAG_L2_FC_ABSLIM_TEST",
            "FLAG_L2_H_SSITC_TEST", "FLAG_L3.3_NEE_CUT_16_QCF",
            "FLAG_L3.3_NEE_CUT_50_QCF", "FLAG_L2_co2_flux_DROPOUT_TEST",
            "FLAG_SOMETHING_ELSE", "NEE_ORIG", "FLAG_L2_LE_SPECCORR_TEST"]
    series = ["NEE_CUT_50", "FC", "H", "LE", "TAU", "custom_var"]
    ref = run_reference(f"""
import pandas as pd
from diive.core.base.identify import identify_flagcols, identify_relevants
df = pd.DataFrame(columns={cols!r})
out = {{s: identify_flagcols(df=df, seriescol=s,
                             exclude_ustar_ids=["_CUT_16_"])
       for s in {series!r}}}
rel = {{s: identify_relevants(s) for s in {series!r}}}
print(json.dumps({{"flags": out, "rel": rel}}))
""")
    for s in series:
        assert outliers.identify_flag_columns(
            cols, s, exclude_ustar_ids=["_CUT_16_"]) == ref["flags"][s], s
        assert outliers.identify_relevant_ids(s) == ref["rel"][s], s


def test_restrict_application_matches_executed_reference(spark):
    """Generic date-range flag restriction (reference
    preprocessing/qaqc/flags.py:18): single-timestamp entries, [start,
    end] ranges and the missing-timestamp no-op, value-for-value against
    the EXECUTED reference."""
    import pandas as pd

    from tests.reference_harness import run_reference

    idx = pd.date_range("2024-06-01", periods=200, freq="30min")
    rng = np.random.default_rng(9)
    flag = pd.Series(rng.choice([0.0, 1.0, 2.0], 200), index=idx)
    dates = ["2024-06-01 05:30:00",          # exact timestamp
             "2024-06-01 05:45:00",          # NOT on the grid: no-op
             ["2024-06-02 00:00:00", "2024-06-02 12:00:00"],
             ["2024-06-04 00:00:00", "2024-06-09 00:00:00"]]  # past end
    ref = run_reference(f"""
from diive.preprocessing.qaqc.flags import restrict_application
idx = pd.date_range("2024-06-01", periods=200, freq="30min")
flag = pd.Series({list(flag)!r}, index=idx)
out = restrict_application(flag, "TESTFLAG", {dates!r}, verbose=False)
print(json.dumps([None if not np.isfinite(v) else float(v) for v in out]))
""")
    pdf = pd.DataFrame({"ts": idx, "FLAG_X_TEST": flag.to_numpy()})
    out = outliers.restrict_application(
        spark.createDataFrame(pdf), "ts", "FLAG_X_TEST", dates
    ).toPandas().sort_values("ts")
    got = out["FLAG_X_TEST"].to_numpy()
    want = np.array([np.nan if v is None else v for v in ref])
    assert np.array_equal(np.isnan(got), np.isnan(want))
    m = ~np.isnan(want)
    assert (got[m] == want[m]).all()
    # restriction must bite: some kept, some filled
    assert m.any() and (~m).any()


def test_restrict_application_in_stepwise_chain(spark):
    """Any screening test is now date-restrictable: the restricted flag
    contributes to QCF only inside its window (null = untested outside,
    flag_sums 'otherwise 0' arm)."""
    import pandas as pd

    from diive_spark.operators.stepwise import StepwiseScreening

    idx = pd.date_range("2024-01-01", periods=480, freq="30min")
    rng = np.random.default_rng(4)
    vals = rng.normal(0, 1, 480)
    vals[::37] = 80.0  # abs-limit violations all through the series
    pdf = pd.DataFrame({"site": "A", "ts": idx, "v": vals})
    out = (
        StepwiseScreening(spark.createDataFrame(pdf), ["site"], "ts", "v")
        .flag_absolute_limits(-60.0, 60.0)
        .restrict_application([["2024-01-01", "2024-01-03"]])
        .finalize()
    ).toPandas().sort_values("ts").reset_index(drop=True)
    inside = out["ts"] <= pd.Timestamp("2024-01-03")
    spikes = out["v"] == 80.0
    assert (out.loc[inside & spikes, "FLAG_QCF"] == 2).all()
    # outside the window the violation is NOT flagged (restricted away)
    assert (out.loc[~inside & spikes, "FLAG_QCF"] == 0).all()
    assert out.loc[~inside, "FLAG_1_v_ABSLIM_TEST"].isna().all()
