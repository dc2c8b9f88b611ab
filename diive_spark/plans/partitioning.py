"""Explicit partitioning policy: salted hash bucketing + skew diagnosis.

North-rule requirement (SURVEY.md §4.3.1): the input table is bucketed by
``xxhash64(doc_id)`` with heavy sources salted into more buckets, × range
partitioning on event-time for window locality.

The *aggregation* path doesn't need salting (groupBy(window, source) keys
are high-cardinality and map-side combined; AQE splits residual skew). The
paths that DO need it are per-KEY grouped maps and bucketed writes, where
one Zipfian key ('web' ≈ 55% of rows) would otherwise become one giant task.
Salting policy is derived from observed per-key counts (a cheap pre-agg),
never hardcoded (SURVEY.md §7.2 risk note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Per-key row counts + share — the input to salt sizing."""
    total = df.count()
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("share", F.col("n_rows") / F.lit(float(total)))
        .orderBy(F.desc("n_rows"))
    )


def salt_counts_from_profile(profile, target_rows_per_bucket: int) -> dict[str, int]:
    """Salts per key so each (key, salt) bucket holds <= target rows."""
    return {
        r[0]: max(1, -(-int(r["n_rows"]) // target_rows_per_bucket))
        for r in profile.collect()
    }


def with_salt(df: DataFrame, key_col: str, salt_counts: dict[str, int],
              salt_col: str = "salt", id_cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt: xxhash64(doc-level identity) mod n_salts(key) —
    reproducible across runs (no rand()), so replays land in the same
    buckets. Falls back to 1 salt for unseen keys. ``id_cols`` names the
    identity columns to hash (default: every non-salt column — correct but
    wasteful when the row carries a wide tokens array; pass the id)."""
    mapping = F.create_map(*[
        x for k, v in salt_counts.items() for x in (F.lit(k), F.lit(v))
    ])
    n = F.coalesce(mapping[F.col(key_col)], F.lit(1))
    hash_cols = id_cols or [c for c in df.columns if c != salt_col]
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), n).cast("int"),
    )


def salted_repartition(
    df: DataFrame, key_col: str,
    target_rows_per_bucket: int = 1_000_000,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Repartition by (key, salt) so the Zipf-heavy key spreads over
    proportional buckets. Used before bucketed writes and per-key kernels."""
    profile = key_skew_profile(df, key_col)
    salt_counts = salt_counts_from_profile(profile, target_rows_per_bucket)
    total_buckets = sum(salt_counts.values())
    salted = with_salt(df, key_col, salt_counts, id_cols=id_cols)
    return salted.repartition(max(total_buckets, 1), key_col, "salt")


def write_bucketed(
    df: DataFrame, table_name: str, bucket_cols: list[str], n_buckets: int,
    sort_cols: list[str] | None = None, mode: str = "overwrite",
) -> None:
    """Bucketed table write — the co-located-join layout (SURVEY.md §4.3.1:
    hash bucketing on doc_id so joins/groupBys on the bucket key read
    pre-partitioned data and skip their shuffle entirely).

    Spark bucketing requires a managed/catalog table (saveAsTable); two
    tables bucketed the same way join with NO exchange on either side —
    at 100 TB that is the difference between a full-corpus shuffle and a
    purely local merge (verified by plan assertion in
    tests/test_partitioning.py)."""
    w = df.write.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode(mode).format("parquet").saveAsTable(table_name)
