"""Catalog-table adapter: the engine's Iceberg seam.

The north rule targets Iceberg tables of pre-tokenized sequences; this
sandbox has no Iceberg runtime jars, so the adapter makes the contract
explicit and testable as far as the environment allows:

- ``read_table`` dispatches between a CATALOG IDENTIFIER
  (``spark.read.table`` — Iceberg, Hive, or the session catalog; Iceberg
  time travel via ``snapshot_id``/``as_of``) and a filesystem PATH
  (``spark.read.parquet``). Everything downstream is identical: the engine
  only ever sees a DataFrame, so swapping the warehouse means swapping this
  one call.
- ``write_tier_table`` writes a rollup tier either to an Iceberg table
  (DataFrameWriterV2 with hidden ``days(window)`` partitioning — the
  engine's retention/pruning unit) or to the tier layout on a path
  (event-time range partitioning + ``event_date`` directories, files
  written by ``tier_writer``). When the target is an identifier
  but no Iceberg catalog is configured, the failure is wrapped with the
  exact config the cluster needs instead of a bare catalog error.

Retention (the 1m/1h/1d tier contract) is a partition drop on both
layouts. On an Iceberg table ``expire_tier_before`` issues the
``DELETE WHERE window_start < cutoff`` that Iceberg turns into metadata-only
partition drops on a days-partitioned table. On the parquet layout every
tier writer (``run_pipeline``, ``write_tier_table``) partitions by
``event_date = to_date(window_start)`` in the session time zone, so expiry
deletes whole ``event_date=<d>`` directories through the Hadoop FileSystem:
a midnight cutoff reads no data and launches no Spark job, and only the day
straddling a cutoff off midnight is rewritten, swapped in from a hidden
sibling. The deletes are idempotent and a swap cut short is settled by the
next call, so re-running after a crash equals a clean expiry.

Tier file layout. ``tier_writer`` is the one writer of tier files
(``run_pipeline``'s tiers, ``write_tier_table`` on a path and the
straddling-day rewrite): rows sorted
within each task by the tier's (keys, time) order, ``TIER_CODEC``-compressed
column chunks. Sorted runs of one key and its timestamps compress far
better than shuffle order, and each file's per-key min/max statistics stay
tight for the (key, window_start) and ``block_id`` filters readers use.
gzip rather than zstd: parquet's zstd streams have finalizers, so their
garbage survives a single full GC, and a JVM heap reading taken after one
runs high.

Pages are Parquet v2 without dictionaries, so each column chunk has one
encoding: integers and timestamps DELTA_BINARY_PACKED, strings
DELTA_BYTE_ARRAY, doubles and blobs PLAIN. In sorted runs neighbouring
values differ little, so delta-packing beats a dictionary page: in a 1m
file the sums go 17.0 → 12.4 KB and the minima 12.1 → 9.7 KB, and with
dictionaries left on v2 pages keep 94 % of the 1m tier's bytes. One
encoding per chunk also makes two writes of the same rows byte-identical;
with dictionaries the order of a chunk's encoding list varied between
writes. Timestamps are INT64 microseconds (1.26 KB per 1m timestamp column
against 14.8 KB as INT96), but that is the session conf
``spark.sql.parquet.outputTimestampType`` set by ``session.get_spark``:
Spark ignores a per-write option of that name. A session built without
``get_spark`` still writes INT96 timestamps, which read back the same but
take more bytes; a tier may mix INT96 and INT64 days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

#: parquet codec of every tier file
TIER_CODEC = "gzip"


def tier_writer(df: DataFrame, sort_cols: list[str]) -> DataFrameWriter:
    """``df``'s writer in the tier layout (see the module docstring): rows
    sorted within each task by ``sort_cols``, ``TIER_CODEC`` compression,
    Parquet v2 pages without dictionaries."""
    return (df.sortWithinPartitions(*sort_cols).write
            .option("compression", TIER_CODEC)
            .option("parquet.writer.version", "v2")
            .option("parquet.enable.dictionary", "false"))


def resolve_source(source: str) -> tuple[bool, str]:
    """Resolve ``source`` to (is_identifier, stripped_source).

    Explicit routing wins: ``table:name`` always reads the catalog,
    ``path:dir`` always reads the filesystem (prefix stripped). Otherwise
    the heuristic contract applies: paths contain '/', a parquet suffix, an
    explicit URI scheme (file:/, hdfs://, s3a://...), or exist on the local
    filesystem; catalog identifiers are dotted names (catalog.db.table) or
    bare names. The local-existence check keeps a relative single-segment
    directory (e.g. 'tier_1m_out') from being silently routed to
    spark.read.table and failing with a confusing catalog error — but it
    makes routing depend on driver CWD state, so when it flips a bare name
    to path routing a warning names the colliding entry (use the ``table:``
    prefix to pin catalog routing)."""
    import os
    import re
    import warnings
    if source.startswith("table:"):
        return True, source[len("table:"):]
    if source.startswith("path:"):
        return False, source[len("path:"):]
    if "/" in source or source.endswith(".parquet"):
        return False, source
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", source):  # URI scheme
        return False, source
    if os.path.exists(source):
        warnings.warn(
            f"'{source}' looks like a catalog identifier but matches a local "
            f"filesystem entry; routing to spark.read.parquet — prefix with "
            f"'table:' to force catalog routing", stacklevel=3)
        return False, source
    return True, source


def is_table_identifier(source: str) -> bool:
    """Back-compat wrapper over :func:`resolve_source` (routing only)."""
    return resolve_source(source)[0]


def read_table(
    spark: SparkSession, source: str,
    snapshot_id: int | None = None, as_of: str | None = None,
) -> DataFrame:
    """Read a catalog table or a parquet path. ``snapshot_id`` / ``as_of``
    (Iceberg time travel) apply only to catalog identifiers."""
    is_ident, source = resolve_source(source)
    if is_ident:
        reader = spark.read
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        if as_of is not None:
            # Iceberg's as-of-timestamp option takes EPOCH MILLISECONDS;
            # accept an ISO string (or millis) and convert
            import pandas as _pd
            millis = (int(as_of) if str(as_of).isdigit()
                      else int(_pd.Timestamp(as_of).value // 1_000_000))
            reader = reader.option("as-of-timestamp", str(millis))
        return reader.table(source)
    if snapshot_id is not None or as_of is not None:
        raise ValueError("time travel requires a catalog (Iceberg) table")
    return spark.read.parquet(source)


def write_tier_table(
    df: DataFrame, target: str, ts_col: str = "window_start",
    mode: str = "overwrite", n_time_ranges: int = 64,
) -> None:
    """Write a rollup tier to ``target`` (catalog identifier or path). A
    path gets the tier layout: ``event_date`` directories of files sorted
    by the columns up to ``ts_col`` (keys, then the window)."""
    is_ident, target = resolve_source(target)
    if is_ident:
        try:
            # Spark 4 moved partition transforms to functions.partitioning
            # (plain F.days is deprecated); keep the old name as a fallback
            # for Spark 3 clusters
            try:
                from pyspark.sql.functions import partitioning as _pt
                days_of = _pt.days
            except ImportError:  # Spark < 4
                days_of = F.days
            writer = (
                df.writeTo(target)
                .using("iceberg")
                .partitionedBy(days_of(F.col(ts_col)))
            )
            if mode == "append":
                writer.append()
            else:
                writer.createOrReplace()
        except Exception as exc:  # pragma: no cover - depends on runtime jars
            msg = str(exc).lower()
            catalog_problem = any(t in msg for t in (
                "catalog", "classnotfound", "iceberg", "table or view not found",
                "multipart identifier", "data source"))
            if not catalog_problem:
                raise  # a real write error (schema/permissions/data), not config
            raise RuntimeError(
                f"writing tier table '{target}' needs an Iceberg catalog: add "
                "the iceberg-spark-runtime jar and configure e.g. "
                "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                "+ warehouse location; falling back to a path target writes "
                "the engine's canonical parquet layout instead"
            ) from exc
        return
    # key columns come before the window, as in every tier (see
    # expire_tier_before); one range of event time per task
    ranged = df.withColumn("event_date", F.to_date(ts_col)).repartitionByRange(n_time_ranges, ts_col)
    sort_cols = ["event_date", *df.columns[:df.columns.index(ts_col) + 1]]
    tier_writer(ranged, sort_cols).mode(mode).partitionBy("event_date").parquet(target)


def _settle_swaps(fs, Path, root) -> None:
    """Finish or undo the straddle swaps of :func:`expire_tier_before` under
    ``root``: a day whose rewrite is not installed gets its whole old
    directory back, and every other leftover is deleted."""
    for st in fs.globStatus(Path(root, "_expire_*")):
        name = st.getPath().getName()
        day_dir = Path(root, "event_date=" + name.rsplit("_", 1)[1])
        if name.startswith("_expire_old_") and not fs.exists(day_dir):
            fs.rename(st.getPath(), day_dir)
        else:
            fs.delete(st.getPath(), True)


def _hadoop_fs(spark: SparkSession, target: str):
    """The Hadoop FileSystem of ``target``, its ``Path`` class and its root."""
    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    root = Path(target.rstrip("/"))
    return root.getFileSystem(sc._jsc.hadoopConfiguration()), Path, root


def drop_tier_dates(spark: SparkSession, target: str, dates: list[str]) -> None:
    """Delete the ``event_date=<d>`` directories of ``dates`` from a parquet
    tier; a date without one is skipped."""
    fs, Path, root = _hadoop_fs(spark, target)
    for d in dates:
        fs.delete(Path(root, f"event_date={d}"), True)


def _tier_days(spark: SparkSession, target: str):
    """A parquet tier's Hadoop FS handles and its ``{date: event_date dir}``
    map, after settling any swap a crash cut short. Raises ``ValueError``
    when the tier is not partitioned into ``event_date=`` directories."""
    fs, Path, root = _hadoop_fs(spark, target)
    _settle_swaps(fs, Path, root)
    days = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if not (st.isDirectory() and name.startswith("event_date=")):
            raise ValueError(f"{target} is not a tier partitioned into "
                             f"event_date= directories (found {name!r})")
        days[name[len("event_date="):]] = st.getPath()
    return fs, Path, root, days


def expire_tier_before(
    spark: SparkSession, target: str, ts_col: str, cutoff: str,
) -> None:
    """Retention: drop windows older than ``cutoff`` from a tier.

    On an Iceberg table this DELETE aligns with the days() partition spec,
    so the engine's retention tick is a metadata-only partition drop (no
    data rewrite). On the parquet layout it deletes the ``event_date=<d>``
    directories before the cutoff's date, so ``ts_col`` must be the column
    ``event_date`` was derived from, in the session time zone. Only a cutoff
    off midnight rewrites data: the one day that straddles it, through
    ``tier_writer``, sorted by the columns up to ``ts_col`` (tier writers put
    the key columns first, then the window, as ``resample.rollup`` does)."""
    import pandas as _pd
    try:
        cutoff_ts = _pd.Timestamp(cutoff)
    except (ValueError, TypeError) as exc:
        raise ValueError(f"cutoff {cutoff!r} is not a timestamp") from exc
    is_ident, target = resolve_source(target)
    if is_ident:
        # Validate the interpolated pieces before building the statement:
        # cutoff must parse as a timestamp and ts_col / target segments must
        # be plain identifiers (backtick-quoted in the SQL) — a malformed
        # cutoff fails here with a clear error instead of inside the DELETE,
        # and an untrusted one cannot smuggle SQL.
        import re
        ident = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
        if not ident.match(ts_col):
            raise ValueError(f"ts_col {ts_col!r} is not a plain identifier")
        segments = target.split(".")
        if not all(ident.match(s) for s in segments):
            raise ValueError(f"target {target!r} is not a table identifier")
        quoted = ".".join(f"`{s}`" for s in segments)
        spark.sql(
            f"DELETE FROM {quoted} WHERE `{ts_col}` < TIMESTAMP "
            f"'{cutoff_ts.isoformat(sep=' ')}'")
        return
    if cutoff_ts.tzinfo is not None:
        tz = spark.conf.get("spark.sql.session.timeZone")
        cutoff_ts = cutoff_ts.tz_convert(tz).tz_localize(None)
    fs, Path, root, days = _tier_days(spark, target)
    cut_day = cutoff_ts.date().isoformat()
    for day in days:
        if day < cut_day:
            fs.delete(days[day], True)
    if cut_day in days and cutoff_ts != cutoff_ts.normalize():
        # survivors go under a '_' name without '=', which Spark's reader
        # skips; a failure anywhere leaves the whole old day in place
        new, old = (Path(root, f"_expire_{s}_{cut_day}") for s in ("new", "old"))
        try:
            day = spark.read.parquet(str(days[cut_day]))
            keep = day.filter(F.col(ts_col) >= F.lit(str(cutoff_ts)).cast("timestamp"))
            tier_writer(keep, day.columns[:day.columns.index(ts_col) + 1]).parquet(str(new))
            if not (fs.rename(days[cut_day], old) and fs.rename(new, days[cut_day])):
                raise RuntimeError(f"retention swap of {days[cut_day]} failed")
        finally:
            _settle_swaps(fs, Path, root)
