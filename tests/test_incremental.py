"""Incremental ingest over file-backed raw input: the pending dates come from
the raw files' footers and the (path, size, mtime) fingerprint of the files
covering each date, so late files and in-place rewrites reopen exactly their
dates and a run with no new files does nothing."""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from diive_spark.plans import manifest, pipeline
from diive_spark.plans.lineage import LineageStore

TIERS = ["1m", "1h", "1d", "packed"]


def _write_raw(path, start, periods, freq="10min", seed=0, tz="UTC", **kwargs):
    ts = pd.date_range(start, periods=periods, freq=freq)
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "event_time": pa.array(ts.values.astype("datetime64[us]"), pa.timestamp("us", tz=tz)),
        "n_tok": pa.array(rng.integers(1, 1000, periods), pa.int64()),
        "source": pa.array(np.where(np.arange(periods) % 2, "web", "code")),
    }), path, **kwargs)


def _day(raw_dir, name, day, seed=0, **kwargs):
    _write_raw(os.path.join(raw_dir, name), day, 144, seed=seed, **kwargs)


def _run(spark, raw_dir, out, **kwargs):
    return pipeline.run_pipeline(spark, spark.read.parquet(raw_dir), out, **kwargs)


def _table(path):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def _assert_tiers_hold_raw_tokens(raw_dir, out):
    want = int(_table(raw_dir)["n_tok"].sum())
    for tier in ["1m", "1h", "1d"]:
        assert int(_table(pipeline.tier_path(out, tier))["n_tok_sum"].sum()) == want, tier


def _lineage_dates(spark, out, run_id):
    rows = (LineageStore(spark, f"{out}/_lineage").read()
            .filter((F.col("tier") == "1m") & (F.col("run_id") == run_id)).collect())
    return sorted(r["partition_id"] for r in rows)


def _sorted(pdf):
    keys = [c for c in ["source", "series_key", "window_start", "block_id"] if c in pdf.columns]
    pdf = pdf.assign(event_date=pdf["event_date"].astype(str))
    return pdf.sort_values(keys).reset_index(drop=True)


def test_late_file_reopens_exactly_its_date(spark, tmp_path):
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _day(raw_dir, "part-0.parquet", "2024-01-01")
    _day(raw_dir, "part-1.parquet", "2024-01-02")
    _day(raw_dir, "part-2.parquet", "2024-01-03")
    assert _run(spark, raw_dir, out)["n_partitions_pending"] == 3

    _write_raw(os.path.join(raw_dir, "part-late.parquet"), "2024-01-02 00:05", 100, seed=7)
    m = _run(spark, raw_dir, out)
    assert m["n_partitions_pending"] == 1
    assert _lineage_dates(spark, out, m["run_id"]) == ["2024-01-02"]
    _assert_tiers_hold_raw_tokens(raw_dir, out)


def test_deleting_the_late_file_reopens_the_date_again(spark, tmp_path):
    """The latest lineage row of a date decides, not any older one."""
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _day(raw_dir, "part-0.parquet", "2024-01-01")
    _run(spark, raw_dir, out)
    late = os.path.join(raw_dir, "part-late.parquet")
    _write_raw(late, "2024-01-01 00:05", 50, seed=3)
    assert _run(spark, raw_dir, out)["n_partitions_pending"] == 1
    os.remove(late)
    assert _run(spark, raw_dir, out)["n_partitions_pending"] == 1
    _assert_tiers_hold_raw_tokens(raw_dir, out)


def test_rewriting_a_file_in_place_reopens_its_dates(spark, tmp_path):
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    two_days = os.path.join(raw_dir, "part-0.parquet")
    _write_raw(two_days, "2024-01-01", 288, seed=1)
    _day(raw_dir, "part-1.parquet", "2024-01-03")
    _run(spark, raw_dir, out)

    _write_raw(two_days, "2024-01-01", 288, seed=2)
    m = _run(spark, raw_dir, out)
    assert _lineage_dates(spark, out, m["run_id"]) == ["2024-01-01", "2024-01-02"]
    _assert_tiers_hold_raw_tokens(raw_dir, out)


def test_second_run_without_new_files_does_nothing(spark, tmp_path, monkeypatch):
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _day(raw_dir, "part-0.parquet", "2024-01-01")
    _day(raw_dir, "part-1.parquet", "2024-01-02")
    m1 = _run(spark, raw_dir, out)
    assert m1["rows"]["1d"] == 4 and m1["n_partitions_total"] == 2

    def no_footer(*args):
        raise AssertionError("the footer of an unchanged file was read again")

    monkeypatch.setattr(manifest, "footer_range", no_footer)
    m2 = _run(spark, raw_dir, out)
    assert m2["n_partitions_pending"] == 0 and m2["n_partitions_total"] == 2
    assert m2["rows"] == dict.fromkeys(TIERS, 0)


def test_kill_before_the_lineage_commit_replays_to_a_clean_store(spark, tmp_path, monkeypatch):
    raw_dir = str(tmp_path / "raw")
    for i in range(3):
        _day(raw_dir, f"part-{i}.parquet", f"2024-01-0{i + 1}", seed=i)
    clean, resume = str(tmp_path / "clean"), str(tmp_path / "resume")
    _run(spark, raw_dir, clean, batch_size=2)

    commits, orig_commit = [], LineageStore.commit

    def commit(self, records):
        commits.append(records)
        if len(commits) == 2:  # the second batch's tiers are written
            raise pipeline.KilledForTest("killed before the lineage commit")
        return orig_commit(self, records)

    monkeypatch.setattr(LineageStore, "commit", commit)
    with pytest.raises(pipeline.KilledForTest):
        _run(spark, raw_dir, resume, batch_size=2)
    monkeypatch.undo()
    m = _run(spark, raw_dir, resume, batch_size=2)
    assert _lineage_dates(spark, resume, m["run_id"]) == ["2024-01-03"]

    for tier in TIERS:
        a = _sorted(_table(pipeline.tier_path(clean, tier)))
        b = _sorted(_table(pipeline.tier_path(resume, tier)))
        assert len(a) > 0, tier
        pd.testing.assert_frame_equal(a, b, obj=tier)

    def latest(out):
        lin = LineageStore(spark, f"{out}/_lineage").read().toPandas()
        lin = lin[lin["tier"] == "1m"].sort_values("committed_at").groupby("partition_id").tail(1)
        return lin.set_index("partition_id")[["n_rows", "checksum", "input_fingerprint"]].sort_index()

    pd.testing.assert_frame_equal(latest(clean), latest(resume))


@pytest.mark.parametrize("tz", ["America/New_York", "Asia/Kolkata"])
@pytest.mark.parametrize("file_tz", ["UTC", None], ids=["instant", "ntz"])
def test_footer_dates_equal_to_date_in_the_session_time_zone(spark, tmp_path, tz, file_tz):
    raw_dir = str(tmp_path / "raw")
    # 19:00 UTC .. 04:00 UTC the next day: a different date set in each zone
    _write_raw(os.path.join(raw_dir, "a.parquet"), "2024-01-01 19:00", 10, freq="1h", tz=file_tz)
    _write_raw(os.path.join(raw_dir, "b.parquet"), "2024-01-05 02:00", 3, freq="1h", tz=file_tz)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        raw = spark.read.parquet(raw_dir)
        assert isinstance(raw.schema["event_time"].dataType,
                          TimestampType if file_tz else TimestampNTZType)
        want = sorted(str(r[0]) for r in
                      raw.select(F.to_date("event_time")).distinct().collect())
        got = LineageStore(spark, str(tmp_path / "lineage")).pending(raw, "event_time", "1m")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got.dates == want


def test_new_file_without_ts_statistics_is_processed(spark, tmp_path):
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _day(raw_dir, "part-0.parquet", "2024-01-01")
    _run(spark, raw_dir, out)
    bare = os.path.join(raw_dir, "part-1.parquet")
    _write_raw(bare, "2024-01-02", 288, seed=5, write_statistics=False)
    field = spark.read.parquet(raw_dir).schema["event_time"]
    assert manifest.footer_range("file://" + bare, field, "UTC") is None

    m = _run(spark, raw_dir, out)
    assert _lineage_dates(spark, out, m["run_id"]) == ["2024-01-02", "2024-01-03"]
    _assert_tiers_hold_raw_tokens(raw_dir, out)


def test_corrupt_new_raw_file_is_an_error_naming_it(spark, tmp_path):
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _day(raw_dir, "part-0.parquet", "2024-01-01")
    schema = spark.read.parquet(raw_dir).schema
    _run(spark, raw_dir, out)
    with open(os.path.join(raw_dir, "part-1.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(ValueError, match="part-1.parquet"):
        pipeline.run_pipeline(spark, spark.read.schema(schema).parquet(raw_dir), out)


def test_new_days_read_only_their_own_raw_rows(spark, tmp_path):
    """Raw rows read by a run over 4 stored days and two new, non-adjacent
    days: the new days' rows (12 a minute) plus their 1m rows read back, not
    the history. ``to_date(ts) IN (d1, d2)`` alone is not pushed into the
    scan; the per-date time ranges are."""
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    per_day = 12 * 1440
    for day in ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]:
        _write_raw(os.path.join(raw_dir, f"part-{day}.parquet"), day, per_day, freq="5s")
    _run(spark, raw_dir, out)
    for day in ["2024-01-06", "2024-01-08"]:
        _write_raw(os.path.join(raw_dir, f"part-{day}.parquet"), day, per_day, freq="5s")

    sc = spark.sparkContext
    sc.setJobGroup("incremental-new-days", "new days")
    try:
        m = _run(spark, raw_dir, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["n_partitions_pending"] == 2
    tracker = sc.statusTracker()
    records = sum(
        stage.inputRecords()
        for job in tracker.getJobIdsForGroup("incremental-new-days")
        for sid in tracker.getJobInfo(job).stageIds
        for stage in [sc._jsc.sc().statusStore().stageData(
            sid, False, sc._gateway.jvm.java.util.ArrayList(), False,
            sc._gateway.new_array(sc._gateway.jvm.double, 0)).apply(0)]
    )
    assert 2 * per_day <= records < 4 * per_day


def test_lineage_without_the_new_columns_recomputes_once(spark, tmp_path):
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _day(raw_dir, "part-0.parquet", "2024-01-01")
    _day(raw_dir, "part-1.parquet", "2024-01-02")
    _run(spark, raw_dir, out)
    lin = f"{out}/_lineage"
    old = str(tmp_path / "old_lineage")
    (spark.read.parquet(lin).filter(F.col("tier") == "1m")
     .select("partition_id", "tier", "status", "n_rows", "checksum", "elapsed_sec",
             "run_id", "committed_at", "query_text").write.parquet(old))
    shutil.rmtree(lin)
    os.rename(old, lin)

    assert _run(spark, raw_dir, out)["n_partitions_pending"] == 2
    assert _run(spark, raw_dir, out)["n_partitions_pending"] == 0
    _assert_tiers_hold_raw_tokens(raw_dir, out)


def test_run_leaves_the_session_serializable(spark, tmp_path):
    """ML models capture the session in their closures, so a run must not
    leave state in it that Java serialization rejects."""
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _day(raw_dir, "part-0.parquet", "2024-01-01")
    _run(spark, raw_dir, out)
    jvm = spark._jvm
    jvm.java.io.ObjectOutputStream(jvm.java.io.ByteArrayOutputStream()).writeObject(
        spark._jsparkSession)
