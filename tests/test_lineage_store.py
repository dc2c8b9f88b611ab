"""Lineage I/O with pyarrow: a temp file a crash left behind before its
rename is invisible to every reader, and files written by Spark and by
pyarrow read back alike through both engines."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from diive_spark.plans.lineage import ARROW_SCHEMA, LINEAGE_SCHEMA, LineageStore


def _done(date, **extra):
    return {"partition_id": date, "tier": "1m", "status": "done", "n_rows": 10,
            "checksum": 123, "elapsed_sec": 0.5, "run_id": "r1", **extra}


def test_temp_file_left_before_the_rename_is_ignored(spark, tmp_path):
    path = str(tmp_path / "lineage")
    store = LineageStore(spark, path)
    store.commit([_done("2024-01-01")])
    # a crash during the write leaves a torn file, one after it a whole one
    with open(os.path.join(path, ".part-torn.parquet"), "wb") as fh:
        fh.write(b"PAR1 torn")
    pq.write_table(pa.Table.from_pylist([_done("2024-01-02", committed_at=1.0)],
                                        schema=ARROW_SCHEMA),
                   os.path.join(path, ".part-whole.parquet"))

    raw = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 3),), (dt.datetime(2024, 1, 2, 3),)], "event_time timestamp")
    assert store.pending(raw, "event_time", "1m").dates == ["2024-01-02"]
    assert store.done_partitions("1m") == {"2024-01-01"}
    assert [r["partition_id"] for r in store.read().collect()] == ["2024-01-01"]


def test_spark_and_pyarrow_written_files_read_alike(spark, tmp_path):
    path = str(tmp_path / "lineage")
    spark.createDataFrame(
        [("2024-01-01", "1m", "done", 10, 7, 0.5, "spark", 1.0, None, "fp1", None, None, None, None),
         ("file:/raw/a.parquet", "raw", "listed", 288, 0, None, "spark", 1.0, None, None,
          4096, 1_700_000_000_000_000_000, dt.date(2024, 1, 1), dt.date(2024, 1, 2))],
        LINEAGE_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)
    store = LineageStore(spark, path)
    store.commit([
        _done("2024-01-02", input_fingerprint="fp2"),
        {"partition_id": "file:/raw/b.parquet", "tier": "raw", "status": "listed",
         "n_rows": 144, "checksum": 0, "run_id": "r1", "file_size": 2048,
         "file_mtime_ns": 1_700_000_000_000_000_001, "first_date": dt.date(2024, 1, 3),
         "last_date": dt.date(2024, 1, 3)},
        {"partition_id": "query", "tier": "selection", "status": "selected", "n_rows": -1,
         "checksum": None, "run_id": "r1", "query_text": "SELECT 1"},
    ])

    def key(r):
        return r["partition_id"]

    via_spark = sorted((r.asDict() for r in store.read().collect()), key=key)
    via_arrow = sorted(ds.dataset(path, format="parquet", schema=ARROW_SCHEMA)
                       .to_table().to_pylist(), key=key)
    assert len(via_spark) == 5
    assert via_spark == via_arrow
    assert store.done_partitions("1m") == {"2024-01-01", "2024-01-02"}
    assert store.read().schema.simpleString() == (
        spark.createDataFrame([], LINEAGE_SCHEMA).schema.simpleString())
