"""Raw-file manifest: which event dates each raw parquet file covers.

The pipeline's unit of work is the event date, and a date needs recomputing
when the set of raw files that cover it changes. This module finds that set
without reading raw rows: it stats every input file (size, mtime) and reads
the ``ts_col`` min/max from the parquet footer of each new or changed file.
Files go through ``pyarrow.fs``, so any filesystem pyarrow resolves from a
URI works, not only the local one.

Footer min/max become dates exactly as ``F.to_date(ts_col)`` makes them: an
instant timestamp in the session time zone, a ``TIMESTAMP_NTZ`` as wall
clock, a date as itself. A file whose footer has no usable min/max for
``ts_col`` gets its range from one Spark aggregate over just those files.
``ts_col`` must be a column stored in the raw files, not one derived after
the read.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
from collections import defaultdict
from urllib.parse import unquote

import pandas as pd
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType, TimestampNTZType, TimestampType

@dataclasses.dataclass(frozen=True)
class RawFile:
    uri: str
    size: int
    mtime_ns: int
    n_rows: int = 0
    #: event-date range; both None when the file holds no non-null ts_col
    first_date: dt.date | None = None
    last_date: dt.date | None = None

    def key(self) -> str:
        return f"{self.uri}|{self.size}|{self.mtime_ns}"


def stat(uri: str) -> RawFile:
    fs, path = pafs.FileSystem.from_uri(uri)
    info = fs.get_file_info(path)
    return RawFile(uri, info.size, info.mtime_ns)


def footer_range(uri: str, field: StructField, tz: str):
    """(first_date, last_date, n_rows) of ``field`` from the file's
    row-group statistics, or None when some row group has no usable
    min/max."""
    fs, path = pafs.FileSystem.from_uri(uri)
    try:
        with fs.open_input_file(path) as fh:
            md = pq.read_metadata(fh)
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(f"raw file {uri}: cannot read its parquet footer: {exc}") from exc
    col = next((j for j in range(md.num_columns) if md.schema.column(j).path == field.name), None)
    if col is None:
        raise ValueError(f"raw file {uri} has no column {field.name!r}")
    atype = md.schema.to_arrow_schema().field(field.name).type
    if isinstance(field.dataType, (TimestampType, TimestampNTZType)) and pa.types.is_timestamp(atype):
        instant = isinstance(field.dataType, TimestampType)

        def to_date(v):
            ts = pd.Timestamp(v, unit=atype.unit, tz="UTC" if instant else None)
            return (ts.tz_convert(tz) if instant else ts).date()
    elif isinstance(field.dataType, DateType) and pa.types.is_date32(atype):
        def to_date(v):
            return dt.date(1970, 1, 1) + dt.timedelta(days=v)
    else:
        return None
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = rg.column(col).statistics
        if rg.num_rows == 0 or (st is not None and st.null_count == rg.num_rows):
            continue
        if st is None or not st.has_min_max or st.physical_type not in ("INT32", "INT64"):
            return None
        lo = st.min_raw if lo is None else min(lo, st.min_raw)
        hi = st.max_raw if hi is None else max(hi, st.max_raw)
    return (None, None, md.num_rows) if lo is None else (to_date(lo), to_date(hi), md.num_rows)


def aggregate_ranges(spark: SparkSession, uris: list[str], field: StructField) -> dict:
    """{uri: (first_date, last_date, n_rows)} of ``field`` from one Spark
    aggregate over just ``uris``."""
    rows = (
        spark.read.schema(StructType([field])).parquet(*[unquote(u) for u in uris])
        .groupBy(F.input_file_name().alias("uri"))
        .agg(F.min(F.to_date(field.name)), F.max(F.to_date(field.name)), F.count(F.lit(1)))
        .collect()
    )
    got = {r[0]: tuple(r[1:]) for r in rows}
    return {u: got.get(u, (None, None, 0)) for u in uris}


def scan(spark: SparkSession, uris: list[str], field: StructField,
         cached: dict[str, RawFile]) -> tuple[list[RawFile], list[RawFile]]:
    """Every input file with its date range, and the subset that is new or
    changed since ``cached`` (keyed by uri). Footers are read for that
    subset only."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    files, new, no_stats = [], [], []
    for f in map(stat, uris):
        old = cached.get(f.uri)
        if old is not None and (old.size, old.mtime_ns) == (f.size, f.mtime_ns):
            files.append(old)
            continue
        rng = footer_range(f.uri, field, tz)
        if rng is None:
            no_stats.append(f)
        else:
            new.append(_with_range(f, rng))
    if no_stats:
        ranges = aggregate_ranges(spark, [f.uri for f in no_stats], field)
        new += [_with_range(f, ranges[f.uri]) for f in no_stats]
    return files + new, new


def _with_range(f: RawFile, rng: tuple) -> RawFile:
    first, last, n_rows = rng
    return dataclasses.replace(f, n_rows=n_rows, first_date=first, last_date=last)


def fingerprints(files: list[RawFile]) -> dict[str, str]:
    """{date: digest of the (uri, size, mtime) set of the files covering it}."""
    cover = defaultdict(list)
    for f in files:
        if f.first_date is None:
            continue
        for n in range((f.last_date - f.first_date).days + 1):
            cover[(f.first_date + dt.timedelta(days=n)).isoformat()].append(f.key())
    return {d: hashlib.sha1("\n".join(sorted(keys)).encode()).hexdigest()
            for d, keys in cover.items()}
