"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gate  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


# --- generator ---------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    a = gen.day_slice(5, 3, 4000)
    b = gen.day_slice(5, 3, 4000)
    assert gen.table_checksum(a) == gen.table_checksum(b)
    assert gen.table_checksum(gen.day_slice(6, 3, 4000)) != gen.table_checksum(a)


def test_generator_keeps_schema_mix_and_gaps():
    t = gen.day_slice(9, 4, 20000)
    assert t.column_names == ["doc_id", "tokens", "n_tok", "source", "event_time"]
    ids = t.column("doc_id").to_pylist()
    assert ids[0] == f"doc-{9 * gen.DOC_ID_STRIDE + 4 * 20000:012d}"
    assert len(set(ids)) == len(ids)
    shares = pd.Series(t.column("source").to_pylist()).value_counts(normalize=True)
    for name, share in zip(gen.SOURCES, gen.SOURCE_SHARES):
        assert abs(shares[name] - share) < 0.02
    secs = (t.column("event_time").cast(pa.int64()).to_numpy() // 1_000_000
            - int(gen.EPOCH.value // 10**9) - 4 * gen.DAY_S)
    assert secs.min() >= 0 and secs.max() < gen.DAY_S
    for lo, hi in gen.gap_windows(9, 4):
        assert not ((secs >= lo) & (secs < hi)).any()


def test_seed_moves_the_gaps():
    assert any(gen.gap_windows(1, d) != gen.gap_windows(2, d) for d in range(10))


# --- correctness gate --------------------------------------------------------

def _write_tier(store, tier, pdf):
    path = os.path.join(gate.tier_path(store, tier), "event_date=2024-01-01")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def _tier_frame(oracle):
    pdf = oracle.rename(columns={p: f"n_tok_{p}" for p in gate.PARTIALS}).copy()
    pdf["window_start"] = pd.to_datetime(pdf["window_start"], unit="us", utc=True)
    pdf["n_tok_mean"] = pdf["n_tok_sum"] / pdf["n_tok_cnt"]
    return pdf


@pytest.fixture()
def day_oracle():
    return gen.oracle_partials(gen.day_slice(3, 0, 3000), tiers=("1m", "1h", "1d"))


def test_gate_accepts_exact_tiers(tmp_path, day_oracle):
    store = str(tmp_path)
    for tier in ("1h", "1d"):
        _write_tier(store, tier, _tier_frame(day_oracle[tier]))
    assert gate.check_tiers(store, day_oracle) == []


def test_gate_flags_one_corrupted_value(tmp_path, day_oracle):
    store = str(tmp_path)
    _write_tier(store, "1d", _tier_frame(day_oracle["1d"]))
    bad = _tier_frame(day_oracle["1h"])
    bad.loc[7, "n_tok_max"] += 1
    _write_tier(store, "1h", bad)
    problems = gate.check_tiers(store, day_oracle)
    assert problems == ["1h: 1 windows with a wrong n_tok_max"]


def test_gate_flags_a_missing_window(tmp_path, day_oracle):
    store = str(tmp_path)
    _write_tier(store, "1d", _tier_frame(day_oracle["1d"]))
    _write_tier(store, "1h", _tier_frame(day_oracle["1h"]).drop(index=3))
    assert gate.check_tiers(store, day_oracle) == ["1h: 0 unexpected and 1 missing windows"]


def test_decode_gate_is_bit_exact(tmp_path, day_oracle):
    from diive_spark.compression import gorilla

    store = str(tmp_path)
    t1m = _tier_frame(day_oracle["1m"])
    rows = []
    for src, g in t1m.groupby("source"):
        g = g.sort_values("window_start")
        ts = g["window_start"].astype("int64").to_numpy() // 10**9
        rows.append({"series_key": src, "block_id": int(ts[0] // gen.DAY_S),
                     "n_points": len(g), "ts_blob": gorilla.encode_timestamps(ts),
                     "val_blob": gorilla.encode_values(g["n_tok_mean"].to_numpy())})
    _write_tier(store, "packed", pd.DataFrame(rows))
    t1m_us = t1m.assign(window_start=day_oracle["1m"]["window_start"])
    assert gate.check_decode(store, t1m_us) == []
    # one ulp off in one stored mean must be caught
    t1m_us.loc[11, "n_tok_mean"] = np.nextafter(t1m_us.loc[11, "n_tok_mean"], np.inf)
    assert len(gate.check_decode(store, t1m_us)) == 1


def test_retention_gate(tmp_path, day_oracle):
    store = str(tmp_path)
    _write_tier(store, "1m", _tier_frame(day_oracle["1m"]))
    ws = day_oracle["1m"]["window_start"]
    assert gate.check_retention(store, {"1m": int(ws.min())}) == []
    assert gate.check_retention(store, {"1m": int(ws.min()) + 1}) != []


# --- metric names ------------------------------------------------------------

def _declared(section):
    with open(run.BENCHMARK_JSON) as f:
        return [m["name"] for m in json.load(f)[section]]


def _fake_tracer():
    """A tracer holding one op with a span of every name the benchmark
    records, as a traced tick + query would."""
    tr = spans.Tracer.__new__(spans.Tracer)
    tr.spans = []
    names = [("pipeline.run", None), ("pipeline.date_discovery", 0), ("lineage.pending", 0),
             ("resample.rollup", 0), ("resample.reaggregate", 0), ("gorilla.pack", 0),
             ("pipeline.readback", 0), ("lineage.commit", 0), ("table.expire", None),
             ("grid.gridded", None), ("grid.gap_table", None), ("gapfill.cascade", None),
             ("outliers.zscore", None), ("outliers.hampel", None), ("gorilla.unpack", None)]
    for i, (name, parent) in enumerate(names):
        s = spans.Span(i, name, parent, op=0, start=float(i), end=i + 0.5)
        if name in ("resample.rollup", "resample.reaggregate", "gorilla.pack"):
            s.attrs.update(kind="write", files=2)
        s.spark = {**dict.fromkeys(spans.SPARK_COUNTERS, 1.0), "input_records": 3.0, "skew": 1.5}
        tr.spans.append(s)
    return tr


def test_every_declared_metric_is_produced_and_nothing_else():
    counters = {"stored_ratio": 0.2, "packed_points": 10, "packed_raw_bytes": 160,
                "packed_bytes": 40, "unpack_points": 10, "expire_bytes_rewritten": 99,
                "grid_slots": 20, "grid_missing": 2, "filled": 1, "fill_missing": 2,
                "halo_dup_frac": 0.01, "flagged": 3}
    ops = [{"index": 0, "traced": True, "ok": True, "latency_s": 2.0, "tokens": 5,
            "counters": counters},
           {"index": 1, "traced": False, "ok": True, "latency_s": 1.5, "tokens": 5,
            "counters": counters}]
    layer = run.per_layer(_fake_tracer(), ops, cycle=1, session_s=4.0)
    assert sorted(layer) == sorted(_declared("per_layer"))

    e2e = run.end_to_end(30.0, ops, cycle=1, peak_rss_mb=900.0)
    assert sorted(e2e) == sorted(_declared("end_to_end"))

    for trace, measured in ((False, e2e), (True, layer)):
        line = run.result_line({"metrics": measured, "ops": ops}, trace)
        assert list(line["metrics"]) == _declared("per_layer" if trace else "end_to_end")
        assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_undeclared_metric_is_refused():
    ops = [{"ok": True, "latency_s": 1.0}]
    with pytest.raises(RuntimeError):
        run.result_line({"metrics": {"made_up_s": 1.0}, "ops": ops}, False)


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0, 2.0, 3.0], 2.0) == (3.0, "max")
    assert run.tail([float(i) for i in range(24)], 11.5) == (11.5, "p50")
    value, which = run.tail([float(i) for i in range(1, 41)], 20.5)
    assert which == "p75" and 30.0 <= value <= 31.0


def test_mix_median_weighs_each_kind_once():
    # two kinds, fast (1 s) and slow (3 s), four ops each: the median op of
    # the mix is midway between the kinds, whatever their extreme samples
    ops = [{"index": i, "ok": True, "latency_s": (1.0 if i % 2 == 0 else 3.0) + 0.01 * i,
            "tokens": 1, "counters": {"stored_ratio": 0.5}} for i in range(8)]
    e2e = run.end_to_end(10.0, ops, cycle=2, peak_rss_mb=1.0)
    assert e2e["op_p50_s"] == pytest.approx((1.03 + 3.04) / 2)
    # wall_s is the timed section per pass: all op time over the four passes
    assert e2e["wall_s"] == pytest.approx(sum(o["latency_s"] for o in ops) / 4)
