"""The session's codegen cache holds the read ops' generated classes: with
Spark's default of 100 entries, a pass of the read mix below compiled
about 95 classes every time it ran; at the session's 256 a repeated pass
compiles none."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from diive_spark.compression import gorilla
from diive_spark.operators import gapfill, grid, outliers, resample
from diive_spark.plans import pipeline

KEYS, VALUE = ["source"], "n_tok_mean"


def _store(spark, root):
    raw_dir = os.path.join(root, "raw")
    os.makedirs(raw_dir)
    rng = np.random.default_rng(0)
    for day in ["2024-01-01", "2024-01-02"]:
        ts = pd.date_range(day, periods=1440, freq="1min")
        ts = ts[rng.random(len(ts)) > 0.05]  # gaps to fill
        pq.write_table(pa.table({
            "event_time": pa.array(ts.values.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "n_tok": pa.array(rng.integers(1, 1000, len(ts)), pa.int64()),
            "source": pa.array(np.where(np.arange(len(ts)) % 2, "web", "code")),
        }), os.path.join(raw_dir, f"part-{day}.parquet"))
    out = os.path.join(root, "store")
    pipeline.run_pipeline(spark, spark.read.parquet(raw_dir), out)
    return out


def _read_mix(spark, store):
    """The analysts' read ops over the 1m tier and the packed blocks."""
    def t1m():
        return spark.read.parquet(pipeline.tier_path(store, "1m"))

    g = grid.gridded(t1m(), "1m", KEYS)
    g.agg(F.count(F.lit(1)), F.count(VALUE)).first()
    grid.gap_table(g, KEYS, VALUE).agg(F.sum("gap_length")).first()
    grid.gap_stats_monthly(g, KEYS, VALUE).collect()
    gapfill.gapfill_cascade(g, KEYS, "window_start", VALUE, 60).agg(F.count("filled")).first()
    gapfill.climatology_fill(g, KEYS, "window_start", VALUE).agg(F.count("filled")).first()
    gapfill.gapfill_scores(g, KEYS, "window_start", VALUE, 60).collect()
    for flagged in [outliers.flag_zscore(t1m(), KEYS, VALUE),
                    outliers.flag_hampel(t1m(), KEYS, "window_start", VALUE, 60)]:
        flag = [c for c in flagged.columns if c.startswith("FLAG_")][0]
        flagged.agg(F.count(F.when(F.col(flag) == 2, 1))).first()
    src = t1m()
    for tier in ("1h", "1d"):
        src = resample.reaggregate(src, tier, ["n_tok"], key_cols=KEYS)
        src.toPandas()
    packed = spark.read.parquet(pipeline.tier_path(store, "packed"))
    gorilla.unpack_blocks(packed, ["series_key"]).agg(F.sum("value")).first()


def test_a_repeated_read_mix_compiles_no_classes(spark, tmp_path):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    store = _store(spark, str(tmp_path))
    _read_mix(spark, store)  # warm-up: compiles the mix's classes
    before = compiles.getCount()
    _read_mix(spark, store)
    assert compiles.getCount() - before == 0
