"""A batch's five jobs (the 1m, 1h, 1d and packed writes and the checksum
collect) run concurrently over its persisted 1m rollup: the run reports
each stage's seconds, a failed job surfaces only after its siblings ended
and leaves a batch that replays to a clean store, every job runs under the
caller's Spark job group, raw rows are read by one stage per batch and no
cache outlives the run."""

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from diive_spark.compression import gorilla
from diive_spark.plans import pipeline
from diive_spark.plans.lineage import LineageStore
from tests.status_store import stage_input_records

TIERS = ["1m", "1h", "1d", "packed"]


def _raw_days(raw_dir, days, freq="10min", seed=0):
    os.makedirs(raw_dir, exist_ok=True)
    for i, day in enumerate(days):
        ts = pd.date_range(day, periods=pd.Timedelta("1D") // pd.Timedelta(freq), freq=freq)
        rng = np.random.default_rng(seed + i)
        pq.write_table(pa.table({
            "event_time": pa.array(ts.values.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "n_tok": pa.array(rng.integers(1, 1000, len(ts)), pa.int64()),
            "source": pa.array(np.where(np.arange(len(ts)) % 2, "web", "code")),
        }), os.path.join(raw_dir, f"part-{day}.parquet"))


def _run(spark, raw_dir, out, **kwargs):
    return pipeline.run_pipeline(spark, spark.read.parquet(raw_dir), out, **kwargs)


def _tier(out, tier):
    """A tier's rows; timestamps as epoch microseconds, whichever parquet
    type (INT96 or INT64) stored them."""
    table = ds.dataset(pipeline.tier_path(out, tier), format="parquet",
                       partitioning="hive").to_table()
    pdf = pd.DataFrame({
        name: (col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
               if pa.types.is_timestamp(col.type) else col).to_pandas()
        for name, col in zip(table.column_names, table.columns)})
    keys = [c for c in ["source", "series_key", "window_start", "block_id"] if c in pdf.columns]
    return pdf.assign(event_date=pdf["event_date"].astype(str)).sort_values(keys).reset_index(drop=True)


def _latest_lineage(spark, out):
    lin = LineageStore(spark, f"{out}/_lineage").read().toPandas()
    lin = lin[lin["tier"] == "1m"].sort_values("committed_at").groupby("partition_id").tail(1)
    return lin.set_index("partition_id")[["n_rows", "checksum", "input_fingerprint"]].sort_index()


def _persisted(spark):
    """Ids of the RDDs the session holds persisted. Spark's context cleaner
    may release an earlier one meanwhile, so a run may only shrink this."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_stage_seconds_cover_every_stage(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    _raw_days(raw_dir, ["2024-01-01", "2024-01-02"])
    m = _run(spark, raw_dir, str(tmp_path / "store"), batch_size=1)
    stage_s = m["stage_s"]
    assert set(stage_s) == {"pending", "1m", "checksum", "1h", "1d", "packed", "overlap", "commit"}
    assert all(v >= 0 for v in stage_s.values()), stage_s
    assert stage_s["overlap"] > 0

    m = _run(spark, raw_dir, str(tmp_path / "unpacked"), pack_tier=None)
    assert set(m["stage_s"]) == {"pending", "1m", "checksum", "1h", "1d", "overlap", "commit"}


@pytest.mark.parametrize("failing", ["packed", "checksum"])
def test_failed_job_waits_for_its_siblings_and_the_batch_replays(
        spark, tmp_path, monkeypatch, failing):
    """The packed write is the last job submitted, the checksum the first."""
    raw_dir = str(tmp_path / "raw")
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    _raw_days(raw_dir, days)
    clean, resume = str(tmp_path / "clean"), str(tmp_path / "resume")
    persisted = _persisted(spark)
    _run(spark, raw_dir, clean, batch_size=2)

    owner, name = (gorilla, "pack_blocks") if failing == "packed" else (pipeline, "checksum_expr")
    calls, orig = [], getattr(owner, name)

    def fail_second(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:  # the second batch's job fails before any Spark job
            raise RuntimeError(f"{failing} failed")
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, name, fail_second)
    with pytest.raises(RuntimeError, match=f"{failing} failed"):
        _run(spark, raw_dir, resume, batch_size=2)
    assert _persisted(spark) <= persisted  # the failed batch's rollup is gone too
    # the sibling jobs of the failed one ran to their end before the raise
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    for tier in {"1h", "1d", "packed"} - {failing}:
        assert os.path.isdir(f"{pipeline.tier_path(resume, tier)}/event_date=2024-01-03"), tier
    # ... and the failed batch committed no lineage row
    assert LineageStore(spark, f"{resume}/_lineage").done_partitions("1m") == set(days[:2])

    monkeypatch.undo()
    m = _run(spark, raw_dir, resume, batch_size=2)
    assert m["n_partitions_pending"] == 1
    for tier in TIERS:
        a, b = _tier(clean, tier), _tier(resume, tier)
        assert len(a) > 0, tier
        pd.testing.assert_frame_equal(a, b, obj=tier)
    pd.testing.assert_frame_equal(_latest_lineage(spark, clean), _latest_lineage(spark, resume))


def test_overlapped_jobs_run_under_the_callers_job_group(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    _raw_days(raw_dir, ["2024-01-01", "2024-01-02"])
    raw = spark.read.parquet(raw_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-caller", "a caller's job group")
    try:
        pipeline.run_pipeline(spark, raw, str(tmp_path / "store"), batch_size=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    # at least the five overlapped jobs of each batch
    assert len(tracker.getJobIdsForGroup("pipeline-caller")) >= 2 * 5


def test_raw_is_read_by_one_stage_per_batch_and_no_cache_outlives_the_run(spark, tmp_path):
    """Every output of a batch reads its persisted 1m rollup: one stage per
    batch reads the day's raw rows, the others read cached batches of a
    few records each (no read-back of stored 1m rows, no second raw scan),
    and the rollup is unpersisted when the run ends."""
    raw_dir = str(tmp_path / "raw")
    _raw_days(raw_dir, ["2024-01-01", "2024-01-02"], freq="15s")
    per_day = 4 * 1440
    persisted = _persisted(spark)
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-raw-reads", "raw reads per batch")
    try:
        m = _run(spark, raw_dir, str(tmp_path / "store"), batch_size=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert m["rows"]["1m"] == 2 * 2 * 1440  # two sources a minute, two days
    records = stage_input_records(spark, "pipeline-raw-reads")
    assert sorted(r for r in records.values() if r >= 100) == [per_day, per_day], records
    assert _persisted(spark) <= persisted


def _digest(pdf):
    """A digest of a frame's dtypes and row values."""
    h = hashlib.sha256(repr(list(pdf.dtypes.astype(str).items())).encode())
    h.update(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def test_tiers_and_lineage_of_a_fixed_input_are_pinned(spark, tmp_path):
    """A 3-date run, then a one-day run: the rows of every tier and the
    latest lineage rows equal those of the earlier implementation, which
    wrote 1m first and built 1h, 1d, packed and the checksum from the 1m
    files read back (digests and checksums taken from it). The packed
    digest is of the (cnt, sum) partials blobs; their blocks decode to the
    same (series_key, block_id, ts, value) rows as that implementation's
    XOR-coded means."""
    raw_dir, out = str(tmp_path / "raw"), str(tmp_path / "store")
    _raw_days(raw_dir, ["2024-01-01", "2024-01-02", "2024-01-03"], freq="1min")
    _run(spark, raw_dir, out)
    _raw_days(raw_dir, ["2024-01-04"], freq="1min", seed=3)
    assert _run(spark, raw_dir, out)["n_partitions_pending"] == 1
    got = {tier: _digest(_tier(out, tier)) for tier in TIERS}
    lin = _latest_lineage(spark, out)
    assert got == PINNED_TIERS
    assert dict(zip(lin.index, zip(lin["n_rows"], lin["checksum"]))) == PINNED_LINEAGE


PINNED_TIERS = {"1m": "27a3029878c218d7", "1h": "75a9c1b8e75a17cc",
                "1d": "63f44ed5a29e9e1a", "packed": "2e1c3ccff1ed14fc"}
PINNED_LINEAGE = {"2024-01-01": (1440, 702601384402808352),
                  "2024-01-02": (1440, -5173731883927211071),
                  "2024-01-03": (1440, -6525108127745141448),
                  "2024-01-04": (1440, -2078552090577063194)}
