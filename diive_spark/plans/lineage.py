"""Per-partition lineage + checkpointed resume (SURVEY.md §4.3.6).

The reference's only checkpointing is pickle save/load
(/root/reference/diive/core/io/files.py:211-223). The engine replaces that
with a lineage *table*: one row per (partition_id, tier) commit recording
status, row count, value checksum and wall-clock — so a killed job replays
only unfinished partitions (north rule). Storage is an append-only parquet
dir (stand-in for an Iceberg table + snapshot commit in production);
partition outputs are written BEFORE their lineage row, and output writes
are idempotent (dynamic partition overwrite), so a crash between the two
leaves a replayable, never-corrupt state.

Incremental ingest. Each done 1m row also stores ``input_fingerprint``, a
digest of the (path, size, mtime) set of the raw files whose event-date
range covers its date (plans/manifest.py). ``pending`` recomputes the
current fingerprints and returns every date whose latest committed row
(by ``committed_at``) is missing or carries another fingerprint: a new
date, a date a late file or an in-place rewrite reopened, a date a kill cut
off before its commit. The table also caches one ``tier = 'raw'`` row per
raw file (path in ``partition_id``, its row count in ``n_rows``,
``file_size``, ``file_mtime_ns``, ``first_date``, ``last_date``), so only
new or changed files have their footer read; the cache saves work, the fingerprints decide. Raw input with
no files (an in-memory frame) has no fingerprint: its dates come from a
``distinct`` scan and are pending until committed once. Lineage written
before these columns existed reads them as null, so its dates recompute
once. Not handled: the table is never compacted (one file per commit), and
a date no raw file covers any more keeps its stored tiers.

I/O. ``pending``, ``done_partitions`` and ``commit`` read and write the
table with pyarrow, not with Spark jobs: a batch's lineage is a few dozen
rows, and a Spark job costs more than the rows. Files are read against
``ARROW_SCHEMA``, so a file without the newer columns reads them as null.
``commit`` writes its rows to a hidden ``.part-<uuid>.parquet`` and
``os.replace``s it to ``part-<uuid>.parquet``: a commit appears whole or
not at all, and a temp file a crash left behind is skipped by both pyarrow
and Spark readers, which ignore names starting with ``.`` or ``_``. The
rename is atomic against a crash of the process, not of the host (no
fsync). Lineage files keep pyarrow's default snappy codec, not the tiers'
gzip (``sources.table.TIER_CODEC``): a commit holds a few rows, and gzip's
frame around each tiny page makes such a file about 10% larger. ``read()``
still returns a Spark DataFrame, over files written by either engine. The
lineage path must be a local directory, as the ``os.path.exists`` checks
here assume.
"""

from __future__ import annotations

import dataclasses
import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.plans import manifest

LINEAGE_SCHEMA = (
    "partition_id string, tier string, status string, n_rows bigint, "
    "checksum bigint, elapsed_sec double, run_id string, committed_at double, "
    "query_text string, input_fingerprint string, file_size bigint, "
    "file_mtime_ns bigint, first_date date, last_date date"
)
_ARROW_TYPES = {"string": pa.string(), "bigint": pa.int64(), "double": pa.float64(),
                "date": pa.date32()}
#: LINEAGE_SCHEMA as pyarrow reads and writes it
ARROW_SCHEMA = pa.schema([(name, _ARROW_TYPES[t]) for name, t in
                          (f.split(" ") for f in LINEAGE_SCHEMA.split(", "))])
#: ``tier`` of the raw-file manifest rows
MANIFEST_TIER = "raw"
_NEVER = object()


@dataclasses.dataclass
class Pending:
    dates: list[str]
    #: dates the raw input covers
    n_total: int
    #: {date: input fingerprint}, None for raw input without files
    fingerprints: dict[str, str | None]
    #: manifest rows of new or changed raw files, to commit with a batch
    manifest: list[dict]


class LineageStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def _rows(self, where: ds.Expression, columns: list[str]) -> list[dict]:
        """The ``columns`` of the rows matching ``where``, read with pyarrow."""
        if not os.path.exists(self.path):
            return []
        return (ds.dataset(self.path, format="parquet", schema=ARROW_SCHEMA)
                .to_table(columns=columns, filter=where).to_pylist())

    def done_partitions(self, tier: str) -> set[str]:
        rows = self._rows((ds.field("tier") == tier) & (ds.field("status") == "done"),
                          ["partition_id"])
        return {r["partition_id"] for r in rows}

    def commit(self, records: list[dict]) -> None:
        """Append lineage rows as one new parquet file, the atomic unit (see
        the module docstring). Fields a record leaves out (e.g. query_text)
        are null."""
        if not records:
            return
        now = time.time()
        table = pa.Table.from_pylist([{**r, "committed_at": now} for r in records],
                                     schema=ARROW_SCHEMA)
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}")
        # readers apply ARROW_SCHEMA: the Arrow schema blob (about 1 KB a
        # file) would only add bytes
        pq.write_table(table, tmp, store_schema=False)
        os.replace(tmp, os.path.join(self.path, name))

    def pending(self, raw: DataFrame, ts_col: str, tier: str) -> Pending:
        """The event dates of ``raw`` whose ``tier`` output is missing or
        stale (see the module docstring)."""
        rows = self._rows(
            ((ds.field("tier") == tier) & (ds.field("status") == "done"))
            | (ds.field("tier") == MANIFEST_TIER),
            ["partition_id", "tier", "committed_at", "input_fingerprint", "n_rows",
             "file_size", "file_mtime_ns", "first_date", "last_date"])
        latest, cached = {}, {}
        for r in sorted(rows, key=lambda r: r["committed_at"]):
            if r["tier"] == MANIFEST_TIER:
                cached[r["partition_id"]] = manifest.RawFile(
                    r["partition_id"], r["file_size"], r["file_mtime_ns"], r["n_rows"],
                    r["first_date"], r["last_date"])
            else:
                latest[r["partition_id"]] = r["input_fingerprint"]

        uris = raw.inputFiles()
        if uris:
            files, new = manifest.scan(self.spark, uris, raw.schema[ts_col], cached)
            fps = manifest.fingerprints(files)
        else:
            dates = raw.select(F.to_date(ts_col).alias("d")).distinct().collect()
            fps = {str(r["d"]): None for r in dates if r["d"] is not None}
            new = []
        dates = sorted(fps)
        return Pending(
            dates=[d for d in dates if latest.get(d, _NEVER) != fps[d]],
            n_total=len(dates),
            fingerprints=fps,
            # checksum 0, not null: the raw rows are not read, and a null
            # would turn the column to float64 in pandas readers of lineage
            manifest=[{"partition_id": f.uri, "tier": MANIFEST_TIER, "status": "listed",
                       "n_rows": f.n_rows, "checksum": 0, "file_size": f.size,
                       "file_mtime_ns": f.mtime_ns, "first_date": f.first_date,
                       "last_date": f.last_date} for f in new],
        )


def checksum_expr(cols: list[str]):
    """Order-insensitive value checksum: XOR-fold of xxhash64 over the row's
    stat columns — cheap, associative, overflow-free under ANSI mode."""
    return F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in cols])).alias("checksum")


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
