"""Resumable pipeline: kill-and-replay equals clean run; only unfinished
partitions recompute (lineage anti-join)."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from diive_spark import synth
from diive_spark.plans import pipeline
from diive_spark.plans.lineage import LineageStore


@pytest.fixture(scope="module")
def raw(spark):
    return synth.inject_gaps(
        synth.with_event_time(synth.token_table(spark, 6_000, with_tokens=False))
    ).select("n_tok", "source", "event_time").cache()


def _tier_pdf(spark, out_dir, tier):
    pdf = spark.read.parquet(pipeline.tier_path(out_dir, tier)).toPandas()
    sort_cols = [c for c in ["source", "series_key", "window_start", "block_id"] if c in pdf.columns]
    return pdf.sort_values(sort_cols).reset_index(drop=True)


def test_clean_run_and_resume_equivalence(spark, raw, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    resume_dir = str(tmp_path_factory.mktemp("resume"))

    m_clean = pipeline.run_pipeline(spark, raw, clean_dir, batch_size=7)
    assert m_clean["n_partitions_pending"] == m_clean["n_partitions_total"] == 29  # day 12 fully gap-injected

    # killed run: only the first batch (7 dates) commits
    with pytest.raises(pipeline.KilledForTest):
        pipeline.run_pipeline(spark, raw, resume_dir, batch_size=7, fail_after_batches=1)
    store = LineageStore(spark, f"{resume_dir}/_lineage")
    assert len(store.done_partitions("1m")) == 7

    # replay: only the remaining 23 partitions are pending
    m_resume = pipeline.run_pipeline(spark, raw, resume_dir, batch_size=7)
    assert m_resume["n_partitions_pending"] == 22

    for tier in ["1m", "1h", "1d", "packed"]:
        a = _tier_pdf(spark, clean_dir, tier)
        b = _tier_pdf(spark, resume_dir, tier)
        assert len(a) == len(b) > 0, tier
        for c in a.columns:
            if a[c].dtype == object:
                assert (a[c] == b[c]).all(), (tier, c)
            else:
                np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy(), err_msg=f"{tier}.{c}")

    # second run touched only the partitions the kill left behind
    lineage = store.read().toPandas()
    runs = lineage.groupby("run_id")["partition_id"].count()
    assert sorted(runs.to_list()) == [7, 22]


def test_rerun_is_noop(spark, raw, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("noop"))
    pipeline.run_pipeline(spark, raw, out, batch_size=30)
    m2 = pipeline.run_pipeline(spark, raw, out, batch_size=30)
    assert m2["n_partitions_pending"] == 0


def test_packed_tier_is_complete(spark, raw, tmp_path_factory):
    # review regression: day-boundary windows must not be dropped when
    # batches overwrite packed partitions (block on window_start, not end)
    out = str(tmp_path_factory.mktemp("packed"))
    pipeline.run_pipeline(spark, raw, out, batch_size=3)
    t1m = spark.read.parquet(pipeline.tier_path(out, "1m"))
    packed = spark.read.parquet(pipeline.tier_path(out, "packed"))
    n_points = packed.agg(F.sum("n_points").alias("n")).collect()[0]["n"]
    assert n_points == t1m.count()


def test_a_double_value_column_packs_as_xor_means(spark, raw, tmp_path_factory):
    """A float source's sums are not integers, so its packed blocks hold
    XOR-coded means, without the partials tag, that decode to the 1m
    tier's means bit for bit."""
    from diive_spark.compression import gorilla

    out = str(tmp_path_factory.mktemp("packed_double"))
    pipeline.run_pipeline(spark, raw.withColumn("n_tok", F.col("n_tok").cast("double")),
                          out, batch_size=15)
    t1m = spark.read.parquet(pipeline.tier_path(out, "1m")).toPandas()
    assert str(t1m["n_tok_sum"].dtype) == "float64"
    packed = spark.read.parquet(pipeline.tier_path(out, "packed"))
    assert not any(bytes(r["val_blob"])[0] & 0x80 for r in packed.select("val_blob").collect())
    got = gorilla.unpack_blocks(packed, ["series_key"]).toPandas()
    want = dict(zip(zip(t1m["source"], t1m["window_start"].astype("int64") // 10**9),
                    t1m["n_tok_mean"].to_numpy(np.float64).view(np.uint64).tolist()))
    assert dict(zip(zip(got["series_key"], got["ts"]),
                    got["value"].to_numpy(np.float64).view(np.uint64).tolist())) == want


def test_select_records_to_code_logs_query_text(spark, tmp_path):
    """select_records_to_code: filter + replayable SQL text in lineage."""
    import pandas as pd

    from diive_spark.operators import frames
    from diive_spark.plans.lineage import LineageStore

    df = spark.createDataFrame(pd.DataFrame({"v": [1.0, 5.0, 9.0], "k": list("abc")}))
    store = LineageStore(spark, str(tmp_path / "lineage"))
    out = frames.select_records_to_code(df, "v > 2.0 AND k <> 'c'",
                                        lineage=store, record_count=True)
    assert out.count() == 1
    row = store.read().filter("tier = 'selection'").collect()[0]
    assert row["query_text"] == "SELECT * FROM input WHERE v > 2.0 AND k <> 'c'"
    assert row["n_rows"] == 1 and row["status"] == "selected"
    # replay from lineage reproduces the selection
    pred = row["query_text"].split("WHERE ", 1)[1]
    assert df.filter(pred).count() == 1


def test_pyfiles_zip_matches_tree():
    """dist/diive_spark.zip (the spark-submit --py-files artifact) must
    contain EXACTLY the package's .py files with identical bytes — a stale
    committed zip ships old code to executors (ADVICE r4)."""
    import os
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = os.path.join(repo, "dist", "diive_spark.zip")
    assert os.path.exists(zpath), "dist/diive_spark.zip missing — run scripts/make_pyfiles_zip.py"
    tree = {}
    pkg = os.path.join(repo, "diive_spark")
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                tree[os.path.relpath(full, repo)] = open(full, "rb").read()
    with zipfile.ZipFile(zpath) as z:
        names = set(z.namelist())
        assert names == set(tree), (
            f"zip drift: only-in-zip={sorted(names - set(tree))[:5]} "
            f"only-in-tree={sorted(set(tree) - names)[:5]} — rerun "
            "scripts/make_pyfiles_zip.py and commit the zip")
        for name, want in tree.items():
            assert z.read(name) == want, (
                f"zip stale for {name} — rerun scripts/make_pyfiles_zip.py")


def test_lineage_checksum_of_a_fixed_input_is_pinned(spark, tmp_path):
    """The lineage checksum hashes the 1m partial columns in their stored
    order; the same input must keep the same checksum across releases, so
    stored lineage stays comparable."""
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    secs = np.arange(0, 2 * 86400, 977, dtype=np.int64)
    pq.write_table(pa.table({
        "event_time": pa.array((1704067200 + secs) * 1_000_000, pa.timestamp("us", tz="UTC")),
        "n_tok": pa.array((secs * 7919) % 1013, pa.int64()),
        "source": pa.array(np.where(secs % 3 == 0, "web", "code")),
    }), str(raw_dir / "part-0.parquet"))
    out = str(tmp_path / "store")
    pipeline.run_pipeline(spark, spark.read.parquet(str(raw_dir)), out)
    lin = LineageStore(spark, f"{out}/_lineage").read().filter("tier = '1m'").toPandas()
    assert dict(zip(lin["partition_id"], lin["checksum"])) == {
        "2024-01-01": -7676001701228768360, "2024-01-02": 6281503755686133139}
