"""The tier file layout (sources/table.tier_writer): every tier file is
gzip-compressed Parquet with one encoding and no dictionary page per column
chunk, INT64 microsecond timestamps and its rows sorted by (key,
window_start), or by (series_key, block_id) in the packed tier; the packed
tier holds one file per date, and the layout survives a retention rewrite.
A tier that still holds INT96 days reads as one written all in INT64."""

import glob
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from diive_spark.operators import resample
from diive_spark.plans import pipeline
from diive_spark.sources import table as tbl

TIERS = ["1m", "1h", "1d", "packed"]
ORDER = {"1m": ["source", "window_start"], "1h": ["source", "window_start"],
         "1d": ["source", "window_start"], "packed": ["series_key", "block_id"]}
DATES = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]


def _write_day(raw_dir, day, seed):
    """One day of raw rows from three sources, in random order."""
    rng = np.random.default_rng(seed)
    n = 3000
    secs = rng.integers(0, 86400, n)
    ts = pd.Timestamp(day).value // 1000 + secs * 1_000_000
    os.makedirs(raw_dir, exist_ok=True)
    pq.write_table(pa.table({
        "event_time": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "n_tok": pa.array(rng.integers(1, 1000, n), pa.int64()),
        "source": pa.array(rng.choice(["web", "code", "chat"], n)),
    }), os.path.join(raw_dir, f"part-{day}.parquet"))


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A store built by one three-date batch and then a one-day run."""
    base = tmp_path_factory.mktemp("layout")
    raw_dir, out = str(base / "raw"), str(base / "store")
    for i, day in enumerate(DATES[:3]):
        _write_day(raw_dir, day, i)
    m = pipeline.run_pipeline(spark, spark.read.parquet(raw_dir), out)
    assert m["n_partitions_pending"] == 3
    _write_day(raw_dir, DATES[3], 3)
    m = pipeline.run_pipeline(spark, spark.read.parquet(raw_dir), out)
    assert m["n_partitions_pending"] == 1
    return out


def _files(path, day="*"):
    files = sorted(glob.glob(os.path.join(path, f"event_date={day}", "*.parquet")))
    assert files, path
    return files


def _assert_layout(files, order):
    for f in files:
        meta = pq.ParquetFile(f).metadata
        chunks = [meta.row_group(g).column(c)
                  for g in range(meta.num_row_groups) for c in range(meta.num_columns)]
        assert {ch.compression for ch in chunks} == {tbl.TIER_CODEC.upper()}, f
        for ch in chunks:
            assert len(ch.encodings) == 1, (f, ch.path_in_schema, ch.encodings)
            assert not ch.has_dictionary_page, (f, ch.path_in_schema)
        for col in (meta.schema.column(c) for c in range(meta.num_columns)):
            if col.name in ("window_start", "window_end"):
                assert col.physical_type == "INT64", (f, col.name)
                lt = json.loads(col.logical_type.to_json())
                assert (lt["Type"], lt["isAdjustedToUTC"], lt["timeUnit"]) == (
                    "Timestamp", True, "microseconds"), (f, col.name, lt)
        keys = pq.read_table(f, columns=order).to_pylist()
        rows = [tuple(r[c] for c in order) for r in keys]
        assert rows == sorted(rows), f


@pytest.mark.parametrize("tier", TIERS)
def test_tier_files_are_compressed_and_sorted(store, tier):
    _assert_layout(_files(pipeline.tier_path(store, tier)), ORDER[tier])


def test_packed_tier_holds_one_file_per_date(store):
    path = pipeline.tier_path(store, "packed")
    per_date = {d: len(_files(path, d)) for d in DATES}
    assert per_date == dict.fromkeys(DATES, 1)


def _normalised(pdf):
    """Spark's and pyarrow's pandas frames in one form: naive timestamps,
    bytes blobs, string dates, rows in a fixed order."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif c.endswith("_blob"):
            pdf[c] = pdf[c].map(bytes)
    pdf["event_date"] = pdf["event_date"].astype(str)
    keys = [c for c in ["source", "series_key", "window_start", "block_id"] if c in pdf]
    return pdf.sort_values(keys).reset_index(drop=True)


@pytest.mark.parametrize("tier", TIERS)
def test_spark_and_pyarrow_read_the_same_rows(spark, store, tier):
    path = pipeline.tier_path(store, tier)
    got = _normalised(spark.read.parquet(path).toPandas())
    want = _normalised(ds.dataset(path, format="parquet", partitioning="hive")
                       .to_table().to_pandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want, check_dtype=False)


def test_1d_from_1m_equals_1d_from_the_stored_1h(spark, store):
    one_h = spark.read.parquet(pipeline.tier_path(store, "1h")).drop("event_date")
    from_1h = resample.reaggregate(one_h, "1d", ["n_tok"], key_cols=["source"])
    stored = spark.read.parquet(pipeline.tier_path(store, "1d")).drop("event_date")
    cols = from_1h.columns
    assert sorted(stored.select(cols).collect()) == sorted(from_1h.collect())


def test_straddling_expiry_keeps_the_layout(spark, store, tmp_path):
    path = str(tmp_path / "1m")
    shutil.copytree(pipeline.tier_path(store, "1m"), path)
    before = spark.read.parquet(path).toPandas()
    cutoff = "2024-01-02 06:30:00"
    tbl.expire_tier_before(spark, path, "window_start", cutoff)

    _assert_layout(_files(path, "2024-01-02"), ORDER["1m"])
    got = _normalised(spark.read.parquet(path).toPandas())
    want = _normalised(before[before["window_start"] >= pd.Timestamp(cutoff)])
    pd.testing.assert_frame_equal(got, want)


TS_TYPE = "spark.sql.parquet.outputTimestampType"


@pytest.fixture(scope="module")
def mixed_store(spark, tmp_path_factory):
    """The rows of ``store``, but its first date written with INT96
    timestamps, as stores written before tiers were INT64 hold them."""
    base = tmp_path_factory.mktemp("mixed")
    raw_dir, out = str(base / "raw"), str(base / "store")
    _write_day(raw_dir, DATES[0], 0)
    previous = spark.conf.get(TS_TYPE)
    spark.conf.set(TS_TYPE, "INT96")
    try:
        pipeline.run_pipeline(spark, spark.read.parquet(raw_dir), out)
    finally:
        spark.conf.set(TS_TYPE, previous)
    for i, day in enumerate(DATES[1:], 1):
        _write_day(raw_dir, day, i)
    assert pipeline.run_pipeline(spark, spark.read.parquet(raw_dir), out)["n_partitions_pending"] == 3
    path = pipeline.tier_path(out, "1m")
    kinds = {}
    for d in DATES:
        schema = pq.ParquetFile(_files(path, d)[0]).schema
        kinds[d] = schema.column(schema.names.index("window_start")).physical_type
    assert kinds == {DATES[0]: "INT96", **dict.fromkeys(DATES[1:], "INT64")}
    return out


def test_a_tier_mixing_int96_and_int64_days_reads_as_an_int64_build(spark, store, mixed_store):
    want = _normalised(spark.read.parquet(pipeline.tier_path(store, "1m")).toPandas())
    path = pipeline.tier_path(mixed_store, "1m")
    pd.testing.assert_frame_equal(_normalised(spark.read.parquet(path).toPandas()), want)
    got = _normalised(ds.dataset(path, format="parquet", partitioning="hive")
                      .to_table().to_pandas())
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want, check_dtype=False)


def test_straddling_expiry_rewrites_an_int96_day_as_int64(spark, mixed_store, tmp_path):
    path = str(tmp_path / "1m")
    shutil.copytree(pipeline.tier_path(mixed_store, "1m"), path)
    before = _normalised(spark.read.parquet(path).toPandas())
    cutoff = "2024-01-01 06:30:00"
    tbl.expire_tier_before(spark, path, "window_start", cutoff)

    _assert_layout(_files(path, DATES[0]), ORDER["1m"])
    got = _normalised(spark.read.parquet(path).toPandas())
    want = before[before["window_start"] >= pd.Timestamp(cutoff)].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_a_tier_written_to_a_path_has_the_tier_layout(spark, tmp_path):
    """``write_tier_table`` on a path writes through ``tier_writer``:
    gzip, v2 pages (integers DELTA_BINARY_PACKED), no dictionaries, each
    file sorted by (keys, window_start), in event_date directories."""
    rng = np.random.default_rng(4)
    n = 2000
    pdf = pd.DataFrame({
        "source": rng.choice(["web", "code", "chat"], n),
        "window_start": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.permutation(n) * 180, "s"),
        "n_tok_cnt": rng.integers(1, 50, n),
    })
    path = str(tmp_path / "tier")
    tbl.write_tier_table(spark.createDataFrame(pdf), path, "window_start")
    files = _files(path)
    _assert_layout(files, ["source", "window_start"])
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            chunk = {meta.row_group(g).column(c).path_in_schema: meta.row_group(g).column(c)
                     for c in range(meta.num_columns)}["n_tok_cnt"]
            assert chunk.encodings == ("DELTA_BINARY_PACKED",), (f, chunk.encodings)
    days = sorted(os.path.basename(os.path.dirname(f)) for f in files)
    assert days[0] == "event_date=2024-01-01" and days[-1] == "event_date=2024-01-05"
    got = spark.read.parquet(path).toPandas()
    assert len(got) == n
    assert (got["event_date"].astype(str) == got["window_start"].dt.strftime("%Y-%m-%d")).all()
