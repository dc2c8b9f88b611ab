"""Seeded F1 token-table generator for the benchmark.

The engine never sees this module: it receives only the parquet files written
here. Rows keep the F1 shape ``(doc_id, tokens, n_tok, source)`` plus the
``event_time`` the pipeline keys on. ``tokens`` is an empty array on every
row, as in the engine's own throughput fixtures, because only ``n_tok`` feeds
the rollups and full token arrays would make the raw table ~1000x larger.

What the seed controls:
- the doc-id range (each seed starts its ids at a different offset);
- every per-row draw (event second, ``n_tok``, source);
- the position of the injected gap windows.

What it does not: the Zipf-skewed source mix (web 55%, books 20%, code 15%,
wiki 7%, chat 3%), the number of rows per day and the gap shapes (one short
gap of 2-5 minutes every day, plus a one-hour gap every fifth day). No day is
dropped whole, so every generated day is a pending partition for the pipeline.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCES = ("web", "books", "code", "wiki", "chat")
SOURCE_SHARES = (0.55, 0.20, 0.15, 0.07, 0.03)
N_TOK_MIN, N_TOK_SPAN = 16, 2033
EPOCH = pd.Timestamp("2024-01-01")
DAY_S = 86400
# doc ids of one seed occupy [seed * DOC_ID_STRIDE, ...): disjoint per seed
DOC_ID_STRIDE = 10**9


def gap_windows(seed: int, day: int) -> list[tuple[int, int]]:
    """Gap windows of one day as ``(start_s, end_s)`` offsets within the day."""
    rng = np.random.default_rng([seed, day, 1])
    short_len = 60 * int(rng.integers(2, 6))
    short_at = 60 * int(rng.integers(0, (DAY_S - short_len) // 60))
    gaps = [(short_at, short_at + short_len)]
    if day % 5 == seed % 5:
        hour_at = 3600 * int(rng.integers(0, 24))
        gaps.append((hour_at, hour_at + 3600))
    return gaps


def day_slice(seed: int, day: int, rows_per_day: int) -> pa.Table:
    """Raw rows of one event day (0-based from 2024-01-01), gaps removed,
    sorted by event time."""
    rng = np.random.default_rng([seed, day])
    secs = np.sort(rng.integers(0, DAY_S, size=rows_per_day))
    keep = np.ones(rows_per_day, dtype=bool)
    for lo, hi in gap_windows(seed, day):
        keep &= (secs < lo) | (secs >= hi)
    n = int(keep.sum())
    secs = secs[keep]
    n_tok = rng.integers(N_TOK_MIN, N_TOK_MIN + N_TOK_SPAN, size=rows_per_day,
                         dtype=np.int32)[keep]
    src_idx = rng.choice(len(SOURCES), size=rows_per_day, p=SOURCE_SHARES)[keep]

    first_id = seed * DOC_ID_STRIDE + day * rows_per_day
    ids = pc.cast(pa.array(np.arange(first_id, first_id + n, dtype=np.int64)), pa.string())
    doc_id = pc.binary_join_element_wise("doc-", pc.utf8_lpad(ids, 12, "0"), "")
    tokens = pa.ListArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype=np.int32)), pa.array([], pa.int32()))
    event_us = (int(EPOCH.value // 1000) + (day * DAY_S + secs) * 1_000_000).astype(np.int64)
    return pa.table({
        "doc_id": doc_id,
        "tokens": tokens,
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(np.asarray(SOURCES, dtype=object)[src_idx], pa.string()),
        "event_time": pa.array(event_us, pa.timestamp("us", tz="UTC")),
    })


def write_day(table: pa.Table, raw_dir: str, day: int) -> str:
    """Write one day slice as its own parquet file; appends never rewrite."""
    os.makedirs(raw_dir, exist_ok=True)
    path = os.path.join(raw_dir, f"part-day{day:04d}.parquet")
    pq.write_table(table, path)
    return path


def table_checksum(table: pa.Table) -> str:
    """Content digest of a generated table (column by column, row order
    included) — two tables agree iff every value agrees."""
    h = hashlib.sha256()
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_list(col.type):
            col = pc.list_value_length(col)
        elif pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        h.update(name.encode())
        if pa.types.is_string(col.type):
            h.update("\0".join(col.to_pylist()).encode())
        else:
            h.update(col.to_numpy().tobytes())
    return h.hexdigest()


TIER_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}


def oracle_partials(table: pa.Table, tiers=("1h", "1d")) -> dict[str, pd.DataFrame]:
    """Direct aggregation of raw rows per (source, window): the partials every
    tier must carry. Columns: source, window_start (epoch microseconds, UTC),
    cnt, sum, min, max, sumsq. Every value is an integer below 2**53, so the
    sums are exact in any order."""
    t_us = table.column("event_time").cast(pa.int64()).to_numpy()
    pdf = pd.DataFrame({
        "source": table.column("source").to_numpy(zero_copy_only=False),
        "n_tok": table.column("n_tok").to_numpy().astype(np.int64),
    })
    pdf["sq"] = pdf["n_tok"].astype(np.float64) ** 2
    out = {}
    for tier in tiers:
        pdf["window_start"] = t_us - t_us % TIER_US[tier]
        out[tier] = (
            pdf.groupby(["source", "window_start"])
            .agg(cnt=("n_tok", "size"), sum=("n_tok", "sum"), min=("n_tok", "min"),
                 max=("n_tok", "max"), sumsq=("sq", "sum"))
            .reset_index()
        )
    return out
