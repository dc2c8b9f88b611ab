"""Correctness gate: checks the engine's outputs against oracles computed
from the generated raw rows. Every check returns a list of problems; an op
whose gate reports any problem counts as failed and is not timed as a
success.

The checks read the stored tiers with pyarrow and pandas, independently of
Spark, except the lineage check, which needs the engine's own checksum
expression and so runs in Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

from gen import TIER_US

PARTIALS = ("cnt", "sum", "min", "max", "sumsq")


def _epoch_us(arr) -> np.ndarray:
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.timestamp("us", tz=arr.type.tz)).cast(pa.int64())
    return arr.to_numpy()


def read_tier(path: str, columns: list[str]) -> pd.DataFrame:
    """A stored tier as pandas; timestamp columns become epoch microseconds."""
    if not os.path.isdir(path):
        return pd.DataFrame({c: [] for c in columns})
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    out = {}
    for c in columns:
        col = table.column(c).combine_chunks()
        out[c] = _epoch_us(col) if pa.types.is_timestamp(col.type) else col.to_pandas().to_numpy()
    return pd.DataFrame(out)


def tier_path(store: str, tier: str) -> str:
    return f"{store}/tier={tier}"


def check_tier(got: pd.DataFrame, expected: pd.DataFrame, tier: str) -> list[str]:
    """``got`` (source, window_start, n_tok_<partial>...) must hold exactly
    the windows of ``expected`` with identical partials."""
    got = got.rename(columns={f"n_tok_{p}": p for p in PARTIALS})
    m = got.merge(expected, on=["source", "window_start"], how="outer",
                  suffixes=("", "_exp"), indicator=True)
    problems = []
    extra = int((m["_merge"] == "left_only").sum())
    missing = int((m["_merge"] == "right_only").sum())
    if extra or missing:
        problems.append(f"{tier}: {extra} unexpected and {missing} missing windows")
    both = m[m["_merge"] == "both"]
    for p in PARTIALS:
        bad = int((both[p].to_numpy(dtype=np.float64)
                   != both[f"{p}_exp"].to_numpy(dtype=np.float64)).sum())
        if bad:
            problems.append(f"{tier}: {bad} windows with a wrong n_tok_{p}")
    return problems


def check_tiers(store: str, oracle: dict[str, pd.DataFrame],
                cutoffs: dict[str, int] | None = None) -> list[str]:
    """1h and 1d tiers equal a direct aggregation of the raw rows, per
    source; with ``cutoffs`` (epoch us per tier), only windows at or after
    the cutoff are expected."""
    cutoffs = cutoffs or {}
    cols = ["source", "window_start", *[f"n_tok_{p}" for p in PARTIALS]]
    problems = []
    for tier in ("1h", "1d"):
        exp = oracle[tier]
        if tier in cutoffs:
            exp = exp[exp["window_start"] >= cutoffs[tier]]
        problems += check_tier(read_tier(tier_path(store, tier), cols), exp, tier)
    return problems


def check_1m_daily(t1m: pd.DataFrame, oracle_1d: pd.DataFrame,
                   cutoff: int | None = None) -> list[str]:
    """The 1m tier, summed per (source, day), equals the raw daily partials."""
    day = t1m["window_start"] - t1m["window_start"] % TIER_US["1d"]
    daily = (
        t1m.assign(day=day).groupby(["source", "day"])
        .agg(n_tok_cnt=("n_tok_cnt", "sum"), n_tok_sum=("n_tok_sum", "sum"),
             n_tok_min=("n_tok_min", "min"), n_tok_max=("n_tok_max", "max"),
             n_tok_sumsq=("n_tok_sumsq", "sum"))
        .reset_index().rename(columns={"day": "window_start"})
    )
    exp = oracle_1d if cutoff is None else oracle_1d[oracle_1d["window_start"] >= cutoff]
    return check_tier(daily, exp, "1m")


def check_decode(store: str, t1m: pd.DataFrame, since: int | None = None) -> list[str]:
    """Every packed block from ``since`` on decodes to exactly the stored 1m
    ``n_tok_mean`` series of its key and day, bit for bit."""
    from diive_spark.compression import gorilla

    packed = read_tier(tier_path(store, "packed"),
                       ["series_key", "block_id", "n_points", "ts_blob", "val_blob"])
    day_s = TIER_US["1d"] // 1_000_000
    if since is not None:
        packed = packed[packed["block_id"] * day_s * 1_000_000 >= since]
    ref = t1m.assign(ts=t1m["window_start"] // 1_000_000,
                     block_id=t1m["window_start"] // TIER_US["1d"])
    if since is not None:
        ref = ref[ref["window_start"] >= since]
    ref = {k: g.sort_values("ts") for k, g in ref.groupby(["source", "block_id"])}
    problems = []
    if len(packed) != len(ref):
        problems.append(f"packed: {len(packed)} blocks for {len(ref)} (key, day) series")
    for key, bid, n, ts_blob, val_blob in packed.itertuples(index=False):
        want = ref.get((key, bid))
        ts = gorilla.decode_timestamps(bytes(ts_blob))
        vals = gorilla.decode_values(bytes(val_blob))
        if want is None or len(ts) != len(want) or n != len(want):
            problems.append(f"packed {key}/{bid}: {len(ts)} points, 1m has "
                            f"{0 if want is None else len(want)}")
            continue
        exp_vals = want["n_tok_mean"].to_numpy(dtype=np.float64)
        if (not np.array_equal(ts, want["ts"].to_numpy())
                or not np.array_equal(vals.view(np.int64), exp_vals.view(np.int64))):
            problems.append(f"packed {key}/{bid}: decode differs from 1m n_tok_mean")
    return problems


def check_lineage(spark, store: str) -> list[str]:
    """Each done lineage row of the 1m tier matches its partition's row count
    and checksum; partitions dropped by retention are skipped."""
    from pyspark.sql import functions as F

    from diive_spark.operators.resample import PARTIAL_COLS
    from diive_spark.plans.lineage import checksum_expr

    lin = read_tier(f"{store}/_lineage",
                    ["partition_id", "tier", "status", "n_rows", "checksum", "committed_at"])
    lin = lin[(lin["tier"] == "1m") & (lin["status"] == "done")]
    lin = lin.sort_values("committed_at").groupby("partition_id").tail(1)
    actual = {
        str(r["event_date"]): (int(r["n_rows"]), int(r["checksum"]))
        for r in spark.read.parquet(tier_path(store, "1m"))
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             checksum_expr([f"n_tok_{p}" for p in PARTIAL_COLS]))
        .collect()
    }
    committed = dict(zip(lin["partition_id"], zip(lin["n_rows"], lin["checksum"])))
    problems = [f"lineage: 1m partition {d} has no done row"
                for d in actual if d not in committed]
    for d, (n, c) in committed.items():
        if d in actual and actual[d] != (int(n), int(c)):
            problems.append(f"lineage {d}: committed ({n}, {c}), tier has {actual[d]}")
    return problems


def check_retention(store: str, cutoffs: dict[str, int]) -> list[str]:
    problems = []
    for tier, cutoff in cutoffs.items():
        ws = read_tier(tier_path(store, tier), ["window_start"])["window_start"]
        old = int((ws < cutoff).sum())
        if old:
            problems.append(f"{tier}: {old} windows older than the retention cutoff")
    return problems


def store_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's ``_SUCCESS`` markers
    and ``.crc`` sidecars excluded)."""
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, name))
    return total
