"""Gorilla compression for rolled-up points: XOR float encoding +
delta-of-delta timestamp encoding, packed per (series, time-block) into
binary columns via vectorized Arrow grouped maps. Integer-sourced tiers
pack their values as exact ``(cnt, sum)`` partials instead.

Scheme (Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
Database", VLDB 2015 — public paper):

Timestamps (int64 seconds):
    header: ts[0] as 64 raw bits, then delta[0] as 64 raw bits;
    each subsequent delta-of-delta D:
        D == 0                  -> '0'
        -63   <= D <= 64        -> '10'   + 7-bit  (D + 63)
        -255  <= D <= 256       -> '110'  + 9-bit  (D + 255)
        -2047 <= D <= 2048      -> '1110' + 12-bit (D + 2047)
        else                    -> '1111' + 64-bit two's-complement D

Values (float64), XOR blob (``encode_values``):
    header: v[0] raw 64 bits; each subsequent XOR with previous:
        xor == 0 -> '0'
        else     -> '1' + 6-bit leading-zero count + 6-bit (siglen-1)
                        + siglen significant bits
    (Simplification vs the paper: the '10' previous-window-reuse case is
    dropped — every nonzero XOR writes its own window. Compression is
    slightly lower; the format stays self-describing and exact.)

Values, partials blob (``encode_partials``): a mean of integers is
``sum / cnt``, so consecutive means are unrelated doubles that XOR cannot
shrink; their integer partials delta-pack (FastLanes-style bit packing)
exactly, in about a third of the bytes. Layout, all big-endian:
    8 bytes: n with its top bit set (the tag);
    then for cnt and then sum: one width byte w (0..64), then the n
    values zigzag(x[i] - x[i-1]) (x[-1] = 0, int64 wrapping) packed at w
    bits each, padded to a byte.
A NULL sum (cnt 0) is stored as 0.

Every blob starts with a 64-bit count word n < 2^63, so its first bit
tells the two value formats apart: ``decode_values`` runs the XOR decoder
on a clear bit and ``decode_partials`` on a set one, returning ``sum /
cnt`` in float64 (IEEE division of the two cast to double, as Spark
computes the stored mean) and ``np.nan`` where cnt is 0. So
``unpack_blocks`` reads a store whose days mix both formats.

The XOR encoder is fully vectorized numpy (bit-matrix + boolean-mask
packing, no per-point Python). The XOR decoder is vectorized too, except
for one Python step per point: it tabulates the record length at every bit
position (a record's length is fixed by its first bits), chains the record
starts through that table, gathers every field at once from a strided view
of 64-bit words, and rebuilds values with ``np.bitwise_xor.accumulate``
and timestamps with ``cumsum``. Its temporaries are a few bytes per bit of
the blob. The partials codec has no per-point Python step. A blob that
ends before its last record raises ``ValueError``. Round-trip identity is
tested per block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

# ---------------------------------------------------------------------------
# bit packing primitives (vectorized)
# ---------------------------------------------------------------------------


def _pack_fields(values: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack variable-width bit fields (big-endian within each field) into
    bytes. values: uint64 array; nbits: int array (0..64), rows with 0 bits
    contribute nothing."""
    values = values.astype(np.uint64, copy=True)
    nbits = nbits.astype(np.int64)
    values[nbits == 0] = 0
    shift = ((64 - nbits) % 64).astype(np.uint64)
    shifted = values << shift
    bitmat = np.unpackbits(shifted.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    mask = np.arange(64)[None, :] < nbits[:, None]
    bitstream = bitmat[mask]  # row-major: fields concatenated in order
    return np.packbits(bitstream).tobytes()


# decoder primitives: each pads the blob with zero bytes so that reads near
# its end stay in bounds; `_chain` checks that every record ends inside it
_PAD_BYTES = 16


def _bit_table(blob: bytes) -> tuple[np.ndarray, np.ndarray, int]:
    """(padded blob bytes, one uint8 per bit of them, bits in the blob)."""
    buf = np.frombuffer(blob + bytes(_PAD_BYTES), dtype=np.uint8)
    return buf, np.unpackbits(buf), 8 * len(blob)


def _windows(bits: np.ndarray, k: int, nbits: int) -> np.ndarray:
    """The k-bit (k <= 8) big-endian field starting at each of the first
    ``nbits`` bit positions, as uint8: k shift-or passes, one byte per bit."""
    w = bits[:nbits].copy()
    for j in range(1, k):
        w <<= 1
        w |= bits[j:j + nbits]
    return w


def _chain(rec_len: np.ndarray, start: int, count: int, nbits: int) -> np.ndarray:
    """Start positions of ``count`` consecutive records, the first at bit
    ``start``; ``rec_len[p]`` is the length of a record that starts at p."""
    if count > nbits - start:  # every record holds at least one bit
        raise ValueError("truncated Gorilla blob")
    lens = rec_len[:nbits].tobytes()
    starts = [0] * count
    p = start
    try:
        for i in range(count):
            starts[i] = p
            p += lens[p]
    except IndexError:
        raise ValueError("truncated Gorilla blob") from None
    if p > nbits:
        raise ValueError("truncated Gorilla blob")
    return np.array(starts, dtype=np.int64)


def _read_fields(buf: np.ndarray, pos: np.ndarray, width) -> np.ndarray:
    """Big-endian unsigned fields of ``width`` (1..64) bits at bit offsets
    ``pos``, as uint64, from a view of the 64-bit word at every byte."""
    words = np.ndarray((len(buf) - 7,), dtype=">u8", buffer=buf, strides=(1,))
    byte = pos >> 3
    r = (pos & 7).astype(np.uint64)
    hi = words[byte].astype(np.uint64) << r
    hi |= buf[byte + 8].astype(np.uint64) >> (np.uint64(8) - r)
    return hi >> (np.uint64(64) - np.asarray(width, dtype=np.uint64))


def _read_header(buf: np.ndarray, nbits: int, widths: list[int]) -> list[int]:
    """The leading fixed-width fields; [] for an empty block (count 0)."""
    if nbits < 64:
        raise ValueError("truncated Gorilla blob")
    n = int(_read_fields(buf, np.zeros(1, np.int64), 64)[0])
    if n == 0:
        return []
    widths = widths[:min(n, len(widths))]
    ends = np.cumsum([64, *widths])
    if ends[-1] > nbits:
        raise ValueError("truncated Gorilla blob")
    return [n, *_read_fields(buf, ends[:-1], np.array(widths)).tolist()]


# ---------------------------------------------------------------------------
# timestamps: delta-of-delta
# ---------------------------------------------------------------------------

_TS_RANGES = [(64, 7, 0b10, 2), (256, 9, 0b110, 3), (2048, 12, 0b1110, 4)]


def encode_timestamps(ts: np.ndarray) -> bytes:
    ts = ts.astype(np.int64)
    n = len(ts)
    header_vals = [np.uint64(n)]
    header_bits = [64]
    if n == 0:
        return _pack_fields(np.array(header_vals, dtype=np.uint64), np.array(header_bits))
    header_vals.append(np.uint64(ts[0]))
    header_bits.append(64)
    if n == 1:
        return _pack_fields(np.array(header_vals, dtype=np.uint64), np.array(header_bits))
    deltas = np.diff(ts)
    header_vals.append(deltas[0].astype(np.uint64))
    header_bits.append(64)
    dod = np.diff(deltas)

    m = len(dod)
    ctrl = np.zeros(m, dtype=np.uint64)
    ctrl_bits = np.zeros(m, dtype=np.int64)
    payload = np.zeros(m, dtype=np.uint64)
    payload_bits = np.zeros(m, dtype=np.int64)

    done = dod == 0
    ctrl_bits[done] = 1  # ctrl 0, 1 bit
    for bound, pbits, prefix, plen in _TS_RANGES:
        sel = (~done) & (dod > -bound) & (dod <= bound)
        ctrl[sel] = prefix
        ctrl_bits[sel] = plen
        payload[sel] = (dod[sel] + bound - 1).astype(np.uint64)
        payload_bits[sel] = pbits
        done |= sel
    rest = ~done
    ctrl[rest] = 0b1111
    ctrl_bits[rest] = 4
    payload[rest] = dod[rest].astype(np.uint64)  # two's complement
    payload_bits[rest] = 64

    vals = np.concatenate([np.array(header_vals, dtype=np.uint64),
                           np.column_stack([ctrl, payload]).reshape(-1)])
    bits = np.concatenate([np.array(header_bits, dtype=np.int64),
                           np.column_stack([ctrl_bits, payload_bits]).reshape(-1)])
    return _pack_fields(vals, bits)


# a delta-of-delta record's class follows from its first four bits: 0xxx is
# '0' (class 0), 10xx / 110x / 1110 the _TS_RANGES (1-3), 1111 the escape
_TS_CLASS = np.repeat(np.arange(5, dtype=np.uint8), [8, 4, 2, 1, 1])
_TS_PREFIX = np.array([1, 2, 3, 4, 4])
_TS_PAYLOAD = np.array([0, 7, 9, 12, 64])
_TS_BIAS = np.array([0] + [bound - 1 for bound, *_ in _TS_RANGES] + [0], dtype=np.uint64)
_TS_LEN_BY_WINDOW = (_TS_PREFIX + _TS_PAYLOAD).astype(np.uint8)[_TS_CLASS]


def decode_timestamps(blob: bytes) -> np.ndarray:
    buf, bits, nbits = _bit_table(blob)
    head = _read_header(buf, nbits, [64, 64])
    if len(head) < 3:
        return np.array(head[1:], dtype=np.uint64).view(np.int64)
    n, first, delta0 = head
    window = _windows(bits, 4, nbits)
    starts = _chain(_TS_LEN_BY_WINDOW[window], 192, n - 2, nbits)

    c = _TS_CLASS[window[starts]]
    payload = _read_fields(buf, starts + _TS_PREFIX[c], np.maximum(_TS_PAYLOAD[c], 1))
    # classes 1-3 store dod + bound - 1; the escape stores dod's 64 bits
    dod = np.where(c == 0, np.uint64(0), payload - _TS_BIAS[c]).view(np.int64)
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = np.uint64(delta0).view(np.int64)
    np.cumsum(dod, out=deltas[1:])
    deltas[1:] += deltas[0]
    ts = np.empty(n, dtype=np.int64)
    ts[0] = np.uint64(first).view(np.int64)
    np.cumsum(deltas, out=ts[1:])
    ts[1:] += ts[0]
    return ts


# ---------------------------------------------------------------------------
# values: XOR
# ---------------------------------------------------------------------------

def encode_values(vals: np.ndarray) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.float64).view(np.uint64)
    n = len(v)
    head_v = [np.uint64(n)]
    head_b = [64]
    if n == 0:
        return _pack_fields(np.array(head_v, dtype=np.uint64), np.array(head_b))
    head_v.append(v[0])
    head_b.append(64)
    if n == 1:
        return _pack_fields(np.array(head_v, dtype=np.uint64), np.array(head_b))

    xor = v[1:] ^ v[:-1]
    m = len(xor)
    bitmat = np.unpackbits(xor.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    nonzero = xor != 0
    lz = np.where(nonzero, bitmat.argmax(axis=1), 0).astype(np.int64)
    tz = np.where(nonzero, bitmat[:, ::-1].argmax(axis=1), 0).astype(np.int64)
    lz = np.minimum(lz, 63)
    slen = np.where(nonzero, 64 - lz - tz, 0).astype(np.int64)
    sig = np.where(nonzero, xor >> tz.astype(np.uint64), np.uint64(0))

    # field 1: control+lz+slen -> '1' + 6 + 6 = 13 bits (or single '0' bit)
    f1 = np.where(
        nonzero,
        (np.uint64(1) << np.uint64(12)) | (lz.astype(np.uint64) << np.uint64(6)) | (slen - 1).clip(0).astype(np.uint64),
        np.uint64(0),
    )
    f1_bits = np.where(nonzero, 13, 1)
    f2 = sig
    f2_bits = np.where(nonzero, slen, 0)

    vals_arr = np.concatenate([np.array(head_v, dtype=np.uint64),
                               np.column_stack([f1, f2]).reshape(-1)])
    bits_arr = np.concatenate([np.array(head_b, dtype=np.int64),
                               np.column_stack([f1_bits, f2_bits]).reshape(-1)])
    return _pack_fields(vals_arr, bits_arr)


def _decode_xor(blob: bytes, width: int) -> np.ndarray:
    """XOR-decode a value blob of ``width``-bit words (64 or 32) to uint64:
    a record is '0' or '1' + lz + (siglen - 1), each ``log2(width)`` bits,
    + siglen significant bits."""
    lbits = width.bit_length() - 1
    buf, bits, nbits = _bit_table(blob)
    head = _read_header(buf, nbits, [width])
    if len(head) < 2:
        return np.empty(0, dtype=np.uint64)
    n, first = head
    rec_len = _windows(bits[1 + lbits:], lbits, nbits)
    rec_len += 2 + 2 * lbits
    rec_len[bits[:nbits] == 0] = 1
    starts = _chain(rec_len, 64 + width, n - 1, nbits)

    xor = np.zeros(n, dtype=np.uint64)
    xor[0] = first
    nonzero = bits[starts] == 1
    nz = starts[nonzero]
    lz_slen = _read_fields(buf, nz + 1, 2 * lbits)
    lz = lz_slen >> np.uint64(lbits)
    slen = (lz_slen & np.uint64(width - 1)) + np.uint64(1)
    if (lz + slen > width).any():
        raise ValueError("corrupt Gorilla blob: window wider than the word")
    sig = _read_fields(buf, nz + 1 + 2 * lbits, slen)
    xor[1:][nonzero] = sig << (np.uint64(width) - lz - slen)
    return np.bitwise_xor.accumulate(xor)


def decode_values(blob: bytes) -> np.ndarray:
    """The float64 values of a value blob: XOR-decoded, or ``sum / cnt`` of
    a partials blob, ``np.nan`` where cnt is 0."""
    if blob[:1] and blob[0] & 0x80:
        cnt, sums = decode_partials(blob)
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = sums.astype(np.float64) / cnt
        mean[cnt == 0] = np.nan  # the NaN a NULL mean reads as, not 0/0's
        return mean
    return _decode_xor(blob, 64).view(np.float64)


# ---------------------------------------------------------------------------
# values: exact (cnt, sum) partials
# ---------------------------------------------------------------------------

_PARTIALS_TAG = 1 << 63


def _pack_deltas(x: np.ndarray) -> bytes:
    """One width byte, then zigzag(x[i] - x[i-1]) (x[-1] = 0) bit-packed
    big-endian at that width, the bit length of the largest."""
    u = x.astype(np.int64).view(np.uint64)
    d = u - np.concatenate([np.zeros(1, np.uint64), u[:-1]])  # wraps
    z = (d << np.uint64(1)) ^ (d.view(np.int64) >> 63).view(np.uint64)
    width = int(z.max()).bit_length() if len(z) else 0
    bits = np.unpackbits(z.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    return bytes([width]) + np.packbits(bits[:, 64 - width:]).tobytes()


def _unpack_deltas(blob: bytes, start: int, n: int) -> tuple[np.ndarray, int]:
    """The ``n`` int64 values packed by ``_pack_deltas`` at byte ``start``,
    and the byte after them."""
    if start >= len(blob):
        raise ValueError("truncated partials blob")
    width = blob[start]
    if width > 64:
        raise ValueError("corrupt partials blob: width over 64 bits")
    end = start + 1 + (n * width + 7) // 8
    if end > len(blob):
        raise ValueError("truncated partials blob")
    words = np.zeros((n, 64), dtype=np.uint8)
    words[:, 64 - width:] = np.unpackbits(
        np.frombuffer(blob, np.uint8, end - start - 1, start + 1), count=n * width
    ).reshape(n, width)
    z = np.packbits(words, axis=1).view(">u8").ravel().astype(np.uint64)
    d = (z >> np.uint64(1)) ^ (np.uint64(0) - (z & np.uint64(1)))
    return np.cumsum(d, dtype=np.uint64).view(np.int64), end


def encode_partials(cnt: np.ndarray, sums: np.ndarray) -> bytes:
    """A value blob holding the int64 ``(cnt, sum)`` series of a block
    exactly; ``decode_values`` reads it as ``sum / cnt``."""
    cnt = np.asarray(cnt, dtype=np.int64)
    sums = np.asarray(sums, dtype=np.int64)
    if len(cnt) != len(sums):
        raise ValueError("cnt and sum differ in length")
    head = (len(cnt) | _PARTIALS_TAG).to_bytes(8, "big")
    return head + _pack_deltas(cnt) + _pack_deltas(sums)


def decode_partials(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """The int64 ``(cnt, sum)`` series of a partials blob."""
    if len(blob) < 8:
        raise ValueError("truncated partials blob")
    head = int.from_bytes(blob[:8], "big")
    if not head & _PARTIALS_TAG:
        raise ValueError("not a partials blob")
    n = head ^ _PARTIALS_TAG
    cnt, pos = _unpack_deltas(blob, 8, n)
    sums, pos = _unpack_deltas(blob, pos, n)
    if pos != len(blob):
        raise ValueError("corrupt partials blob: bytes after the sums")
    return cnt, sums


def encode_values32(vals: np.ndarray) -> bytes:
    """float32 XOR variant: same Gorilla scheme over 32-bit words — control
    '1' + 5-bit leading-zeros + 5-bit significant-length (11 bits vs the
    64-bit mode's 13) and half-width payloads. For float32-born data
    (metrics, embedding stats) this roughly halves the value stream at zero
    decode cost; values are cast to float32 first, so the round trip is
    bit-exact on the FLOAT32 values (lossy only vs a wider source)."""
    v = np.ascontiguousarray(vals, dtype=np.float32).view(np.uint32)
    n = len(v)
    head_v = [np.uint64(n)]
    head_b = [64]
    if n == 0:
        return _pack_fields(np.array(head_v, dtype=np.uint64), np.array(head_b))
    head_v.append(np.uint64(v[0]))
    head_b.append(32)
    if n == 1:
        return _pack_fields(np.array(head_v, dtype=np.uint64), np.array(head_b))

    xor = v[1:] ^ v[:-1]
    bitmat = np.unpackbits(xor.astype(">u4").view(np.uint8).reshape(-1, 4), axis=1)
    nonzero = xor != 0
    lz = np.where(nonzero, bitmat.argmax(axis=1), 0).astype(np.int64)
    tz = np.where(nonzero, bitmat[:, ::-1].argmax(axis=1), 0).astype(np.int64)
    lz = np.minimum(lz, 31)
    slen = np.where(nonzero, 32 - lz - tz, 0).astype(np.int64)
    sig = np.where(nonzero, xor >> tz.astype(np.uint32), np.uint32(0))

    f1 = np.where(
        nonzero,
        (np.uint64(1) << np.uint64(10))
        | (lz.astype(np.uint64) << np.uint64(5))
        | (slen - 1).clip(0).astype(np.uint64),
        np.uint64(0),
    )
    f1_bits = np.where(nonzero, 11, 1)
    f2 = sig.astype(np.uint64)
    f2_bits = np.where(nonzero, slen, 0)

    vals_arr = np.concatenate([np.array(head_v, dtype=np.uint64),
                               np.column_stack([f1, f2]).reshape(-1)])
    bits_arr = np.concatenate([np.array(head_b, dtype=np.int64),
                               np.column_stack([f1_bits, f2_bits]).reshape(-1)])
    return _pack_fields(vals_arr, bits_arr)


def decode_values32(blob: bytes) -> np.ndarray:
    """Inverse of encode_values32; returns float32."""
    if blob[:1] and blob[0] & 0x80:
        raise ValueError("a partials blob is not a float32 value blob")
    return _decode_xor(blob, 32).astype(np.uint32).view(np.float32)


# ---------------------------------------------------------------------------
# Spark surface: pack/unpack rollup tiers per (key, block)
# ---------------------------------------------------------------------------

def pack_blocks(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str | tuple[str, str],
    block_seconds: int = 86400,
    value_dtype: str = "float64",
) -> DataFrame:
    """Pack a rollup tier into one binary row per (key, block): Gorilla
    timestamps + values, with raw/packed byte counts for compression-ratio
    accounting. One shuffle, clustered on the block — at the rollup tiers
    this is tiny relative to raw data. ``value_col`` is a column to
    XOR-code, or a ``(cnt, sum)`` pair of integer partial columns to pack
    exactly (``encode_partials``), which ``unpack_blocks`` reads back as
    ``sum / cnt``. ``value_dtype='float32'`` XOR-codes a value column at
    half width (bit-exact for float32-born values; lossy vs float64);
    partials are packed at 64 bits only (a ``ValueError`` otherwise).
    ``raw_bytes`` counts 16 bytes a point (12 for float32) in every
    format."""
    blk = (F.unix_timestamp(F.col(ts_col)) / block_seconds).cast("bigint")
    partials = not isinstance(value_col, str)
    if partials:
        cnt_col, sum_col = value_col
        for c in value_col:
            if not isinstance(df.schema[c].dataType, IntegralType):
                raise TypeError(f"partial column {c!r} is not an integer column")
        if value_dtype != "float64":
            raise ValueError("(cnt, sum) partials are packed at 64 bits; "
                             f"value_dtype={value_dtype!r} applies to XOR only")
        # a sum is NULL only where its count is 0
        vals = [F.col(cnt_col).cast("bigint").alias("_cnt"),
                F.coalesce(F.col(sum_col), F.lit(0)).cast("bigint").alias("_sum")]
    else:
        vals = [F.col(value_col).cast("double").alias("_v")]
    src = df.select(
        *key_cols,
        blk.alias("block_id"),
        F.unix_timestamp(F.col(ts_col)).alias("_ts"),
        *vals,
    )

    out_schema = ", ".join(
        [f"{c} string" for c in key_cols]
        + ["block_id bigint", "n_points bigint", "ts_blob binary", "val_blob binary",
           "raw_bytes bigint", "packed_bytes bigint"]
    )

    f32 = value_dtype == "float32"

    def pack(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_ts")
        ts = pdf["_ts"].to_numpy(dtype=np.int64)
        ts_blob = encode_timestamps(ts)
        if partials:
            val_blob = encode_partials(pdf["_cnt"].to_numpy(dtype=np.int64),
                                       pdf["_sum"].to_numpy(dtype=np.int64))
        else:
            vals = pdf["_v"].to_numpy(dtype=np.float64)
            val_blob = encode_values32(vals) if f32 else encode_values(vals)
        row = {k: [keys[i]] for i, k in enumerate(key_cols)}
        row["block_id"] = [keys[len(key_cols)]]
        row.update(
            n_points=[len(ts)],
            ts_blob=[ts_blob],
            val_blob=[val_blob],
            raw_bytes=[len(ts) * (12 if f32 else 16)],
            packed_bytes=[len(ts_blob) + len(val_blob)],
        )
        return pd.DataFrame(row)

    # explicit numbered repartition: the encode kernel is Python-CPU-bound,
    # and AQE's size-based coalescing would fold a small tier's shuffle
    # onto one partition, serialising every block through a single Python
    # worker (see halo.apply_with_halo — same trap). Clustered on the
    # block alone, which still satisfies the (key, block) grouping: every
    # key of a block lands in one task, so a partitioned write puts each
    # block (a day, in run_pipeline) in one file. The price is that one
    # block's keys encode in one Python worker. Partitions beyond the
    # distinct blocks stay empty, so the width is the cluster's
    # parallelism whatever the input's, and nothing is planned to find it.
    src = src.repartition(df.sparkSession.sparkContext.defaultParallelism, "block_id")
    return src.groupBy(*key_cols, "block_id").applyInPandas(pack, schema=out_schema)


def unpack_blocks(packed: DataFrame, key_cols: list[str],
                  value_dtype: str = "float64") -> DataFrame:
    """Inverse of pack_blocks: one row per point (ts epoch seconds, value);
    a partials block's value is its ``sum / cnt``. ``value_dtype`` must
    match the packing; float32 blobs upcast to double in the output column
    (exactly representable)."""
    out_schema = ", ".join(
        [f"{c} string" for c in key_cols] + ["ts bigint", "value double"]
    )

    def unpack(pdf_iter):
        # one decode call per BLOCK (a blob is a single encoded unit holding
        # thousands of points); batch assembly via np.repeat/concatenate —
        # no per-row pandas iteration
        for pdf in pdf_iter:
            if not len(pdf):
                yield pd.DataFrame(columns=[*key_cols, "ts", "value"])
                continue
            ts_list = [decode_timestamps(bytes(b)) for b in pdf["ts_blob"]]
            dec = decode_values32 if value_dtype == "float32" else decode_values
            val_list = [dec(bytes(b)).astype(np.float64) for b in pdf["val_blob"]]
            counts = np.fromiter((len(t) for t in ts_list), dtype=np.int64, count=len(ts_list))
            out = {c: np.repeat(pdf[c].to_numpy(), counts) for c in key_cols}
            out["ts"] = np.concatenate(ts_list)
            out["value"] = np.concatenate(val_list)
            yield pd.DataFrame(out)

    return packed.mapInPandas(unpack, schema=out_schema)
