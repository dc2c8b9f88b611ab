"""Skew defusal: salted repartition balances the Zipfian source key."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from diive_spark import synth
from diive_spark.plans import partitioning
from diive_spark.sources.table import write_tier_table


@pytest.fixture(scope="module")
def tokens(spark):
    return synth.token_table(spark, 20_000, with_tokens=False).cache()


def test_profile_detects_zipf(tokens):
    prof = partitioning.key_skew_profile(tokens, "source").toPandas()
    assert prof.iloc[0]["source"] == "web"
    assert prof.iloc[0]["share"] > 0.5  # the seeded skew


def test_salted_repartition_balances(spark, tokens):
    salted = partitioning.salted_repartition(tokens, "source",
                                             target_rows_per_bucket=2000)
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("p"))
        .count().toPandas()["count"].to_numpy()
    )
    # without salting, 'web' (55% of 20k = 11k rows) would be one partition;
    # with salting no partition exceeds ~2x the target bucket size
    assert sizes.max() <= 4000, sizes.max()
    # determinism: same input -> same bucket assignment
    s1 = partitioning.with_salt(tokens, "source", {"web": 4}).toPandas()
    s2 = partitioning.with_salt(tokens, "source", {"web": 4}).toPandas()
    s1 = s1.sort_values("doc_id").reset_index(drop=True)
    s2 = s2.sort_values("doc_id").reset_index(drop=True)
    assert (s1["salt"] == s2["salt"]).all()


def test_write_partitioned_layout(spark, tokens, tmp_path):
    out = str(tmp_path / "ranged")
    write_tier_table(synth.with_event_time(tokens), out, "event_time", n_time_ranges=8)
    back = spark.read.parquet(out)
    assert back.count() == 20_000
    # date-partition pruning: a one-day filter scans only that directory
    plan = back.filter(F.col("event_date") == "2024-01-05")._jdf.queryExecution().executedPlan().toString()
    assert "event_date" in plan
    one_day = back.filter(F.col("event_date") == "2024-01-05").count()
    assert 0 < one_day < 20_000 / 10


def test_bucketed_join_has_no_shuffle(spark, tokens, tmp_path):
    """Two tables bucketed on the same key join WITHOUT exchanges: the
    bucketed scan satisfies the join's distribution requirement."""
    from diive_spark.plans import partitioning as pt

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = tokens.select("doc_id", "source", "n_tok")
        right = tokens.select("doc_id", (F.col("n_tok") * 2).alias("m"))
        pt.write_bucketed(left, "bk_left", ["doc_id"], 8, sort_cols=["doc_id"])
        pt.write_bucketed(right, "bk_right", ["doc_id"], 8, sort_cols=["doc_id"])
        joined = spark.table("bk_left").join(spark.table("bk_right"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # bucketing ate the shuffle
        assert joined.count() == left.count()
        # contrast: the same join on unbucketed parquet shuffles both sides
        p1, p2 = str(tmp_path / "l"), str(tmp_path / "r")
        left.write.parquet(p1)
        right.write.parquet(p2)
        plain = spark.read.parquet(p1).join(spark.read.parquet(p2), "doc_id")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plain_plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")
