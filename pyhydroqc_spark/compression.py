"""Retention-tier series compression — delta-of-delta timestamps + XOR values.

Application-level column format per Pelkonen et al., "Gorilla: A Fast,
Scalable, In-Memory Time Series Database" (VLDB 2015, public spec):

* timestamps: delta-of-delta with the paper's bucket controls
  ``0 | 10+7b | 110+9b | 1110+12b | 1111+64b`` (zig-zag style offset ranges);
* values (int32 tokens): XOR with the previous value; ``0`` = identical,
  ``10`` = fits the previous nonzero XOR's leading/trailing window,
  ``11 + 5b leading + 6b length + meaningful bits`` = new window.
  Window reuse references the previous *nonzero* XOR's own window — the
  decoder reconstructs it from already-decoded values, so the encoder is
  fully vectorizable (numpy bit-scatter + packbits, one pass, no Python
  per-element loop on the encode path).

Storage is a ``binary`` column per (series, tier) row; compression is
storage-side only and never affects aggregate values (round-trip property
tested in tests/test_compression.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


# ---------------------------------------------------------------- bit helpers

def _pack_fields(vals: np.ndarray, widths: np.ndarray) -> bytes:
    """Concatenate variable-width big-endian bit fields, vectorized."""
    vals = vals.astype(np.uint64)
    widths = widths.astype(np.int64)
    total = int(widths.sum())
    if total == 0:
        return b""
    offsets = np.cumsum(widths) - widths
    rep_vals = np.repeat(vals, widths)
    rep_w = np.repeat(widths, widths)
    intra = np.arange(total, dtype=np.int64) - np.repeat(offsets, widths)
    shift = (rep_w - 1 - intra).astype(np.uint64)
    bits = ((rep_vals >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


class _BitReader:
    """MSB-first bit reader over a byte buffer.

    Chunked-accumulator design: bytes are folded into a small Python int
    and each ``take`` is two shifts and a mask — all C-speed small-int
    ops. (The original per-bit numpy loop was the decode hot spot: 92k
    ``take`` calls per 1,600-point series spent 70% of the roundtrip.)
    A read past the last byte raises — the encoders pad to a byte
    boundary with ``packbits``, so every legitimate decode's bit budget
    fits inside ``len(buf) * 8``; running off the end means the stream
    is truncated or corrupt, and a loud failure beats silently folding
    zero bits into a wrong value."""

    __slots__ = ("buf", "n_bytes", "byte_pos", "acc", "acc_bits")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.n_bytes = len(buf)
        self.byte_pos = 0
        self.acc = 0
        self.acc_bits = 0

    def take(self, n: int) -> int:
        acc, acc_bits, bp = self.acc, self.acc_bits, self.byte_pos
        while acc_bits < n:
            if bp >= self.n_bytes:
                raise ValueError(
                    "bit stream truncated: read past end of buffer"
                )
            acc = (acc << 8) | self.buf[bp]
            bp += 1
            acc_bits += 8
        acc_bits -= n
        v = acc >> acc_bits
        self.acc = acc & ((1 << acc_bits) - 1)
        self.acc_bits = acc_bits
        self.byte_pos = bp
        return v


def _bit_length(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for non-negative int64 (< 2^53 exact via frexp)."""
    m, e = np.frexp(x.astype(np.float64))
    return np.where(x > 0, e, 0).astype(np.int64)


# ---------------------------------------------------------------- value codec

_W = 32  # token word width


def encode_values(tokens: np.ndarray) -> bytes:
    """int32 array → XOR-compressed bitstream (first value raw 32b)."""
    t = np.asarray(tokens, dtype=np.int64) & 0xFFFFFFFF
    n = len(t)
    if n == 0:
        return b""
    xor = np.zeros(n, dtype=np.int64)
    xor[1:] = t[1:] ^ t[:-1]
    bl = _bit_length(xor)
    lz = np.where(xor > 0, _W - bl, _W)
    low = xor & -xor
    tz = np.where(xor > 0, _bit_length(low) - 1, 0)
    mlen = np.where(xor > 0, _W - lz - tz, 0)

    # window of the previous nonzero xor, per element (decoder recomputes it)
    nz = np.flatnonzero(xor[1:] != 0) + 1
    prev_lz = np.full(n, -1, dtype=np.int64)
    prev_tz = np.full(n, -1, dtype=np.int64)
    if len(nz):
        # for each nonzero position, the window of the nonzero before it
        order = np.searchsorted(nz, np.arange(n), side="left") - 1
        valid = order >= 0
        prev_lz[valid] = lz[nz[order[valid]]]
        prev_tz[valid] = tz[nz[order[valid]]]

    return _pack_interleaved(n, xor, lz, tz, mlen, prev_lz, prev_tz, t)


def _pack_interleaved(n, xor, lz, tz, mlen, prev_lz, prev_tz, t) -> bytes:
    """Emit, per element i≥1: control + optional window header + payload."""
    reuse = (
        (xor != 0)
        & (prev_lz >= 0)
        & (lz >= prev_lz)
        & (tz >= prev_tz)
        & (prev_lz + prev_tz < _W)
    )
    new_win = (xor != 0) & ~reuse

    # element field counts: zero→1 field; reuse→2; new→4
    counts = np.where(xor == 0, 1, np.where(reuse, 2, 4))
    counts[0] = 1  # first element: raw word
    total_fields = int(counts.sum())
    fv = np.zeros(total_fields, dtype=np.int64)
    fw = np.zeros(total_fields, dtype=np.int64)
    pos = np.cumsum(counts) - counts

    # first element raw
    fv[0] = t[0]
    fw[0] = _W

    idx = np.arange(1, n)
    z = idx[xor[1:] == 0]
    fv[pos[z]] = 0
    fw[pos[z]] = 1

    r = idx[reuse[1:]]
    fv[pos[r]] = 0b10
    fw[pos[r]] = 2
    rl = _W - prev_lz[r] - prev_tz[r]
    fv[pos[r] + 1] = (xor[r] >> prev_tz[r]) & ((1 << rl) - 1)
    fw[pos[r] + 1] = rl

    w = idx[new_win[1:]]
    fv[pos[w]] = 0b11
    fw[pos[w]] = 2
    fv[pos[w] + 1] = lz[w]
    fw[pos[w] + 1] = 5
    fv[pos[w] + 2] = mlen[w]  # 1..32; 32 stored as 32 needs 6 bits
    fw[pos[w] + 2] = 6
    fv[pos[w] + 3] = (xor[w] >> tz[w]) & ((1 << mlen[w]) - 1)
    fw[pos[w] + 3] = mlen[w]

    return _pack_fields(fv, fw)


def decode_values(buf: bytes, n: int) -> np.ndarray:
    """Inverse of encode_values (sequential cold-path read)."""
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out.astype(np.int32)
    r = _BitReader(buf)
    out[0] = r.take(_W)
    prev_lz = prev_tz = None
    for i in range(1, n):
        if r.take(1) == 0:
            out[i] = out[i - 1]
            continue
        if r.take(1) == 0:  # reuse window
            mlen = _W - prev_lz - prev_tz
            xor = r.take(mlen) << prev_tz
        else:
            lz = r.take(5)
            mlen = r.take(6)
            tz = _W - lz - mlen
            xor = r.take(mlen) << tz
            prev_lz, prev_tz = lz, tz
        out[i] = out[i - 1] ^ xor
        # the window always tracks the true shape of the last nonzero xor
        blen = int(xor).bit_length()
        prev_lz = _W - blen
        prev_tz = (int(xor) & -int(xor)).bit_length() - 1
    return _to_i32(out)


def _to_i32(out: np.ndarray) -> np.ndarray:
    v = out & 0xFFFFFFFF
    return np.where(v >= 1 << 31, v - (1 << 32), v).astype(np.int32)


# ------------------------------------------------------------ timestamp codec

_DOD_BUCKETS = (
    (0b10, 2, 7, -63, 64),
    (0b110, 3, 9, -255, 256),
    (0b1110, 4, 12, -2047, 2048),
)


def encode_timestamps(ts: np.ndarray) -> bytes:
    """int64 seconds → delta-of-delta bitstream (first ts 64b, first Δ 32b)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return b""
    fields_v = [int(ts[0]) & 0xFFFFFFFFFFFFFFFF]
    fields_w = [64]
    if n > 1:
        d = np.diff(ts)
        fields_v.append(int(d[0]) & 0xFFFFFFFFFFFFFFFF)
        fields_w.append(64)
        dod = np.diff(d)
        for v in dod:
            iv = int(v)
            if iv == 0:
                fields_v.append(0)
                fields_w.append(1)
                continue
            for ctrl, cw, pw, lo, hi in _DOD_BUCKETS:
                if lo <= iv <= hi:
                    fields_v.append(ctrl)
                    fields_w.append(cw)
                    fields_v.append((iv - lo) & ((1 << pw) - 1))
                    fields_w.append(pw)
                    break
            else:
                fields_v.append(0b1111)
                fields_w.append(4)
                fields_v.append(iv & 0xFFFFFFFFFFFFFFFF)
                fields_w.append(64)
    return _pack_fields(
        np.asarray(fields_v, dtype=np.uint64), np.asarray(fields_w, dtype=np.int64)
    )


def decode_timestamps(buf: bytes, n: int) -> np.ndarray:
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    r = _BitReader(buf)
    out[0] = r.take(64)
    if n == 1:
        return out
    d = r.take(64)
    if d >= 1 << 63:
        d -= 1 << 64
    out[1] = out[0] + d
    for i in range(2, n):
        if r.take(1) == 0:
            dod = 0
        else:
            matched = False
            for ctrl, cw, pw, lo, hi in _DOD_BUCKETS:
                if r.take(1) == 0:
                    dod = r.take(pw) + lo
                    matched = True
                    break
            if not matched:
                dod = r.take(64)
                if dod >= 1 << 63:
                    dod -= 1 << 64
        d += dod
        out[i] = out[i - 1] + d
    return out


# ------------------------------------------------------------- series blobs

def encode_series_blob(tokens: np.ndarray, ts_seconds: np.ndarray) -> bytes:
    tb = encode_timestamps(ts_seconds)
    vb = encode_values(tokens)
    n = len(tokens)
    head = np.asarray([n, len(tb)], dtype=np.uint32).tobytes()
    return head + tb + vb


def decode_series_blob(blob: bytes):
    n, tlen = np.frombuffer(blob[:8], dtype=np.uint32)
    ts = decode_timestamps(blob[8 : 8 + int(tlen)], int(n))
    toks = decode_values(blob[8 + int(tlen) :], int(n))
    return toks, ts


def _encode_keyed_df(df, value_col: str, ts_col: str, order_col: str):
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from .datagen import VAL_HI, VAL_LO
    from .quantize import quantize

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("n_tok", IntegerType(), False),
            StructField("blob", BinaryType(), False),
        ]
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        toks = quantize(pdf[value_col].to_numpy(dtype=float), VAL_LO, VAL_HI)
        ts = pd.DatetimeIndex(pdf[ts_col]).asi8 // 1_000_000_000
        blob = encode_series_blob(toks, ts)
        return pd.DataFrame(
            {"doc_id": [pdf["doc_id"].iloc[0]], "n_tok": [len(toks)], "blob": [blob]}
        )

    return df.groupBy("doc_id").applyInPandas(enc, schema=schema)


def encode_tier_df(df, value_col: str = "avg_val"):
    """Rollup cells → (doc_id, n_tok, blob) per series — the north-star
    "compression for each retention tier": delta-of-delta on the bucket
    timestamps (regular cadence ≈ constant deltas ≈ ~0 bits/bucket) +
    Gorilla-style XOR packing of the quantized aggregate values. NULL
    aggregates (cnt=0 cells) quantize to the sentinel and round-trip."""
    return _encode_keyed_df(df, value_col, ts_col="bucket_start", order_col="bucket_start")
