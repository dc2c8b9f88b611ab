"""Incremental tier-0 rollup via Structured Streaming.

The reference is pure batch (SURVEY.md §1.4) and the engine's resumability
story is deliberately batch + lineage (north rule replay semantics). This
module provides the *streaming ingest front-end* for deployments where the
token table arrives as files. ``streaming_rollup`` *is* ``resample.rollup``
applied to a watermarked file stream: the same partials, the same select,
the same output schema, so late data inside the watermark updates its
window and the emitted rows are append-only complete windows.

Semantics mapping (SURVEY.md §2.9):
- tumbling window        -> F.window(ts, tier) (identical to batch)
- completeness gate      -> watermark: a window is emitted only once the
                            event-time high-watermark passes window_end +
                            allowed lateness (plays the mincounts role of
                            'don't emit half-full windows')
- late data              -> updates its window while inside the watermark;
                            after that, replay via the batch pipeline
                            (keep-last semantics, times.py:1409)

Verified in tests: streaming availableNow over the same files ==
batch rollup, bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.operators import resample


def streaming_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    ts_col: str,
    value_cols: list[str],
    tier: str,
    key_cols: list[str],
    watermark: str = "10 minutes",
) -> DataFrame:
    """readStream(files) -> ``resample.rollup`` of the watermarked stream.

    Returns the streaming DataFrame; start it with
    ``df.writeStream.trigger(availableNow=True)...`` (tests) or a
    continuous trigger in production. Being ``resample.rollup``, its output
    schema is the batch rollup's, so downstream tiers are source-agnostic.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    # Structured Streaming event time must be TIMESTAMP (with zone): a
    # TIMESTAMP_NTZ source column cannot carry a watermark. In the engine's
    # UTC sessions the cast preserves the wall-clock instant.
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return resample.rollup(stream.withWatermark(ts_col, watermark), ts_col, value_cols,
                           tier, key_cols=key_cols)


def run_available_now(
    streaming_df: DataFrame, checkpoint_dir: str, query_name: str = "tier0_stream",
    output_mode: str = "complete",
) -> DataFrame:
    """Drain everything currently in the source into an in-memory table and
    return it as a batch DataFrame (test/bootstrap path). ``output_mode``
    must be "append" for non-aggregating streams (e.g. dedup guards)."""
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return streaming_df.sparkSession.table(query_name)
