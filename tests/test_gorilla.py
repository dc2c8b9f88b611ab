"""Gorilla pack/unpack: round-trip identity + compression accounting, and
bit-exact parity of the vectorized decoders with a bit-at-a-time oracle."""

import tracemalloc

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from diive_spark.compression import gorilla


# ---------------- oracle: the format read one bit at a time ----------------

class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, blob: bytes):
        self.bits = np.unpackbits(np.frombuffer(blob, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        out = 0
        for b in self.bits[self.pos:self.pos + n]:
            out = (out << 1) | int(b)
        self.pos += n
        return out


def _to_i64(raw: int) -> int:
    return raw - (1 << 64) if raw >= (1 << 63) else raw


def oracle_timestamps(blob: bytes) -> np.ndarray:
    r = _BitReader(blob)
    n = r.read(64)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    first = _to_i64(r.read(64))
    out = [first]
    if n == 1:
        return np.array(out, dtype=np.int64)
    delta = _to_i64(r.read(64))
    out.append(first + delta)
    for _ in range(n - 2):
        if r.read(1) == 0:
            dod = 0
        else:
            matched = False
            for bound, pbits, _prefix, _plen in gorilla._TS_RANGES:
                if r.read(1) == 0:
                    dod = r.read(pbits) - bound + 1
                    matched = True
                    break
            if not matched:
                dod = _to_i64(r.read(64))
        delta = delta + dod
        out.append(out[-1] + delta)
    return np.array(out, dtype=np.int64)


def oracle_values(blob: bytes, width: int = 64) -> np.ndarray:
    """uint64 (width 64) or uint32 (width 32) words of a value blob."""
    lbits = 6 if width == 64 else 5
    word = np.uint64 if width == 64 else np.uint32
    r = _BitReader(blob)
    n = r.read(64)
    if n == 0:
        return np.empty(0, dtype=word)
    out = [word(r.read(width))]
    for _ in range(n - 1):
        if r.read(1) == 0:
            out.append(out[-1])
        else:
            lz = r.read(lbits)
            slen = r.read(lbits) + 1
            sig = r.read(slen)
            out.append(out[-1] ^ (word(sig) << word(width - lz - slen)))
    return np.array(out, dtype=word)


def _assert_values_parity(v, v32=None):
    """Both codecs; the 32-bit one on ``v32`` or on ``v`` cast to float32."""
    v64 = np.asarray(v, dtype=np.float64)
    blob = gorilla.encode_values(v64)
    got = gorilla.decode_values(blob)
    assert got.dtype == np.float64
    np.testing.assert_array_equal(got.view(np.uint64), oracle_values(blob, 64))
    np.testing.assert_array_equal(got.view(np.uint64), v64.view(np.uint64))
    if v32 is None:
        with np.errstate(over="ignore", invalid="ignore"):
            v32 = v64.astype(np.float32)
    blob = gorilla.encode_values32(v32)
    got = gorilla.decode_values32(blob)
    assert got.dtype == np.float32
    np.testing.assert_array_equal(got.view(np.uint32), oracle_values(blob, 32))
    np.testing.assert_array_equal(got.view(np.uint32), v32.view(np.uint32))


def _assert_ts_parity(ts):
    ts = np.asarray(ts, dtype=np.int64)
    blob = gorilla.encode_timestamps(ts)
    got = gorilla.decode_timestamps(blob)
    assert got.dtype == np.int64
    np.testing.assert_array_equal(got, oracle_timestamps(blob))
    np.testing.assert_array_equal(got, ts)


def _random_block(rng):
    n = int(rng.integers(0, 2000))
    kind = rng.integers(0, 4)
    v32 = None
    if kind == 0:  # smooth rollup-like series
        v = np.round(np.cumsum(rng.normal(0, 0.5, n)) + 50, int(rng.integers(0, 6)))
    elif kind == 1:  # arbitrary bit patterns: NaN payloads, subnormals, infs
        v = rng.integers(0, 2**64, n, dtype=np.uint64).view(np.float64)
        v32 = rng.integers(0, 2**32, n, dtype=np.uint32).view(np.float32)
    elif kind == 2:  # long runs of repeats
        v = np.repeat(rng.normal(0, 1e6, max(n // 50, 1)), 50)[:n]
    else:
        v = rng.choice([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, 1.5, -1.5], n)
    steps = rng.choice([60, 60, 60, 0, 1, 3600, 10**9], n, p=[.5, .2, .1, .05, .05, .05, .05])
    ts = 1704067200 + np.cumsum(steps * rng.integers(1, 4, n)) - 10**10 * rng.integers(0, 2)
    return ts.astype(np.int64), v, v32


# ---------------- vectorized decoders vs the oracle ----------------

def test_decoders_match_oracle_on_seeded_random_blocks():
    rng = np.random.default_rng(2024)
    for _ in range(200):
        ts, v, v32 = _random_block(rng)
        _assert_ts_parity(ts)
        _assert_values_parity(v, v32)


@pytest.mark.parametrize("n", [0, 1, 2, 3])
def test_decoders_short_blocks(n):
    _assert_ts_parity(1704067200 + np.array([0, 60, 180][:n]))
    _assert_ts_parity(np.array([-5, 2**40, -(2**40)][:n]))
    _assert_values_parity([1.5, -2.25, 1e300][:n])
    _assert_values_parity([7.0] * n)


def test_decoders_special_values():
    specials = [np.nan, -np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, -5e-324,
                2.2250738585072e-308, np.finfo(np.float64).max, 1e-45, -1.4e-45,
                np.finfo(np.float32).tiny / 4, 1.0, np.nan]
    _assert_values_parity(specials)
    _assert_values_parity(np.full(1500, -0.0))
    _assert_values_parity(np.full(1500, np.nan))
    # a NaN with a payload survives both codecs bit for bit
    _assert_values_parity(np.array([0x7FF8_0000_0000_0001, 0x7FF0_0000_0000_0003],
                                   dtype=np.uint64).view(np.float64))


def test_decoders_full_width_xor():
    # XOR of 1000...0001: no leading or trailing zeros, a 64- (32-) bit window
    w64 = np.array([0, 0x8000_0000_0000_0001, 0, 0xFFFF_FFFF_FFFF_FFFF, 1],
                   dtype=np.uint64)
    blob = gorilla.encode_values(w64.view(np.float64))
    np.testing.assert_array_equal(gorilla.decode_values(blob).view(np.uint64), w64)
    np.testing.assert_array_equal(oracle_values(blob, 64), w64)
    w32 = np.array([0, 0x8000_0001, 0, 0xFFFF_FFFF, 1], dtype=np.uint32)
    blob = gorilla.encode_values32(w32.view(np.float32))
    np.testing.assert_array_equal(gorilla.decode_values32(blob).view(np.uint32), w32)
    np.testing.assert_array_equal(oracle_values(blob, 32), w32)


def test_decoders_every_delta_of_delta_class():
    # each dod at both ends of its class and just past them, both signs,
    # and beyond 12 bits (the 64-bit escape)
    dods = [0, 1, -1, -62, -63, 64, 65, -64, -254, -255, 256, 257, -256,
            -2046, -2047, 2048, 2049, -2048, 10**12, -(10**12), 0, 0]
    deltas = 60 + np.cumsum([0, *dods])
    ts = np.concatenate([[1704067200], 1704067200 + np.cumsum(deltas)])
    _assert_ts_parity(ts)
    _assert_ts_parity(-ts)
    _assert_ts_parity(np.array([0, -(2**50), 2**50, 3, 3, 3]))
    # deltas past int64 wrap in the encoder and unwrap in the decoder (the
    # bit-at-a-time oracle overflows a Python int -> int64 conversion here)
    ts = np.array([-(2**62), 2**62, -(2**62), 2**63 - 1, -(2**63)])
    np.testing.assert_array_equal(
        gorilla.decode_timestamps(gorilla.encode_timestamps(ts)), ts)


def test_truncated_blob_raises():
    rng = np.random.default_rng(7)
    ts = _random_block(rng)[0][:300]
    v = np.cumsum(rng.normal(0, 1, 300))
    cases = [(gorilla.decode_timestamps, gorilla.encode_timestamps(ts)),
             (gorilla.decode_values, gorilla.encode_values(v)),
             (gorilla.decode_values32, gorilla.encode_values32(v.astype(np.float32))),
             (gorilla.decode_values, gorilla.encode_values(np.empty(0)))]
    for decode, blob in cases:
        for cut in range(len(blob)):
            with pytest.raises(ValueError):
                decode(blob[:cut])


def test_window_wider_than_the_word_raises():
    # n=2, v0=0, then '1' + lz 10 + (siglen - 1) 63: 10 + 64 bits > 64
    blob = gorilla._pack_fields(np.array([2, 0, 1, 10, 63, 2**64 - 1], dtype=np.uint64),
                                np.array([64, 64, 1, 6, 6, 64]))
    with pytest.raises(ValueError, match="wider"):
        gorilla.decode_values(blob)


def test_decoder_temporaries_scale_with_blob_bits():
    """A few bytes per bit of the blob: no (bits x k) window matrices."""
    rng = np.random.default_rng(3)
    v = rng.integers(0, 2**64, 1440, dtype=np.uint64).view(np.float64)
    blob = gorilla.encode_values(v)
    gorilla.decode_values(blob)  # warm caches outside the measurement
    tracemalloc.start()
    try:
        gorilla.decode_values(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 * (8 * len(blob)) + 64 * 1024, peak


# ---------------- pure-numpy kernel round trips ----------------

def test_timestamps_regular_grid():
    ts = np.arange(0, 86400, 60, dtype=np.int64) + 1704067200
    blob = gorilla.encode_timestamps(ts)
    np.testing.assert_array_equal(gorilla.decode_timestamps(blob), ts)
    # regular grid -> all delta-of-deltas are 0 -> ~1 bit/point
    assert len(blob) < len(ts) / 4 + 32


def test_timestamps_irregular():
    rng = np.random.default_rng(0)
    ts = np.cumsum(rng.integers(1, 10_000, 500)).astype(np.int64)
    np.testing.assert_array_equal(
        gorilla.decode_timestamps(gorilla.encode_timestamps(ts)), ts
    )


@given(st.lists(st.integers(min_value=-2**40, max_value=2**40), min_size=0, max_size=80))
@settings(max_examples=30, deadline=None)
def test_timestamps_property(xs):
    ts = np.sort(np.array(xs, dtype=np.int64)) if xs else np.empty(0, dtype=np.int64)
    np.testing.assert_array_equal(
        gorilla.decode_timestamps(gorilla.encode_timestamps(ts)), ts
    )


def test_values_round_trip_smooth():
    rng = np.random.default_rng(1)
    v = np.cumsum(rng.normal(0, 0.1, 1000)) + 100.0
    blob = gorilla.encode_values(v)
    np.testing.assert_array_equal(gorilla.decode_values(blob).view(np.uint64),
                                  v.view(np.uint64))


def test_values_constant_compresses_hard():
    v = np.full(1000, 3.14159)
    blob = gorilla.encode_values(v)
    got = gorilla.decode_values(blob)
    np.testing.assert_array_equal(got, v)
    assert len(blob) < 200  # ~1 bit per repeated value


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64),
                min_size=0, max_size=60))
@settings(max_examples=40, deadline=None)
def test_values_property_bit_exact(xs):
    v = np.array(xs, dtype=np.float64)
    got = gorilla.decode_values(gorilla.encode_values(v))
    np.testing.assert_array_equal(got.view(np.uint64), v.view(np.uint64))


# ---------------- Spark pack/unpack surface ----------------

@pytest.fixture(scope="module")
def tier_df(spark):
    ts = pd.date_range("2024-01-01", periods=3 * 1440, freq="1min")
    rng = np.random.default_rng(5)
    rows = []
    for key in ["web", "books"]:
        vals = np.round(np.cumsum(rng.normal(0, 0.5, len(ts))) + 50, 2)
        rows.append(pd.DataFrame({"source": key, "window_end": ts, "mean_v": vals}))
    return spark.createDataFrame(pd.concat(rows))


def test_pack_unpack_round_trip(spark, tier_df):
    packed = gorilla.pack_blocks(tier_df, ["source"], "window_end", "mean_v",
                                 block_seconds=86400).cache()
    stats = packed.agg({"raw_bytes": "sum", "packed_bytes": "sum"}).collect()[0]
    ratio = stats["sum(raw_bytes)"] / stats["sum(packed_bytes)"]
    assert ratio > 1.5, f"compression ratio {ratio}"
    assert packed.count() == 2 * 3  # 2 keys x 3 day-blocks

    unpacked = gorilla.unpack_blocks(packed, ["source"]).toPandas()
    orig = tier_df.toPandas()
    orig["ts"] = orig["window_end"].astype("int64") // 10**9
    merged = orig.merge(unpacked, on=["source", "ts"], how="outer",
                        suffixes=("_orig", ""))
    assert len(merged) == len(orig)
    np.testing.assert_array_equal(
        merged["mean_v"].to_numpy().view(np.uint64),
        merged["value"].to_numpy().view(np.uint64),
    )


def test_float32_value_codec_roundtrip_and_width(spark):
    """float32 XOR mode: bit-exact round trip on float32-born values
    (incl. signed zeros / infinities), never larger than the 64-bit codec
    on the same values, and the Spark pack/unpack surface carries the mode.
    Honest note: the 64-bit codec already absorbs float32 trailing zeros
    via its significant-length field, so the 32-bit mode's win is the
    narrower control words + truthful 4-byte raw accounting, not 2x."""
    import numpy as np
    import pandas as pd
    from diive_spark.compression import gorilla as g

    rng = np.random.default_rng(11)
    v = (5 + np.round(rng.normal(0, 1, 4000), 2)).astype(np.float32)
    blob = g.encode_values32(v)
    back = g.decode_values32(blob)
    assert (back.view(np.uint32) == v.view(np.uint32)).all()
    assert len(blob) <= len(g.encode_values(v.astype(np.float64)))
    specials = np.array([0.0, -0.0, np.inf, -np.inf, 1e-38, -1e38, 3.25],
                        np.float32)
    got = g.decode_values32(g.encode_values32(specials))
    assert (got.view(np.uint32) == specials.view(np.uint32)).all()

    ts = pd.date_range("2024-01-01", periods=500, freq="1min")
    pdf = pd.DataFrame({"key": "k", "ts": ts,
                        "v": v[:500].astype(np.float64)})
    packed = g.pack_blocks(spark.createDataFrame(pdf), ["key"], "ts", "v",
                           value_dtype="float32")
    stats = packed.selectExpr("sum(raw_bytes) r", "sum(packed_bytes) p").collect()[0]
    assert stats["r"] == 500 * 12  # 8B ts + 4B float32 value
    back_df = g.unpack_blocks(packed, ["key"], value_dtype="float32") \
        .orderBy("ts").toPandas()
    np.testing.assert_array_equal(
        back_df["value"].to_numpy(np.float64),
        v[:500].astype(np.float64))  # float32 -> double upcast is exact
