"""Round-trip property tests for the Gorilla-style codec."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyhydroqc_spark import compression as C


@pytest.mark.parametrize(
    "tokens",
    [
        [0],
        [5, 5, 5, 5],                      # constant → all zero-xor
        [0, 65535, 0, 65535],              # full-width xors
        [1, 2, 4, 8, 16, 1 << 30],         # shifting windows
        [-1, -1, 7, -9999, 3],             # sentinel / negatives
        list(range(1000)),                 # small deltas → window reuse
    ],
)
def test_value_roundtrip_cases(tokens):
    t = np.asarray(tokens, dtype=np.int32)
    buf = C.encode_values(t)
    out = C.decode_values(buf, len(t))
    np.testing.assert_array_equal(out, t)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=200))
def test_value_roundtrip_hypothesis(vals):
    t = np.asarray(vals, dtype=np.int32)
    out = C.decode_values(C.encode_values(t), len(t))
    np.testing.assert_array_equal(out, t)


@pytest.mark.parametrize(
    "ts",
    [
        [1640995200],
        [0, 900, 1800, 2700],                     # regular cadence → 1 bit/pt
        [0, 900, 1801, 2702, 2703],               # small jitter
        [0, 10**9, 2 * 10**9],                    # huge deltas
        [100, 50, 0, -50],                        # decreasing
    ],
)
def test_ts_roundtrip_cases(ts):
    t = np.asarray(ts, dtype=np.int64)
    out = C.decode_timestamps(C.encode_timestamps(t), len(t))
    np.testing.assert_array_equal(out, t)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 2**40), min_size=1, max_size=100))
def test_ts_roundtrip_hypothesis(ts):
    t = np.asarray(sorted(ts), dtype=np.int64)
    out = C.decode_timestamps(C.encode_timestamps(t), len(t))
    np.testing.assert_array_equal(out, t)


def test_blob_roundtrip_and_ratio():
    rng = np.random.default_rng(2)
    n = 5000
    toks = (10000 + np.cumsum(rng.integers(-30, 31, n))).astype(np.int32)
    ts = (1640995200 + 900 * np.arange(n)).astype(np.int64)
    blob = C.encode_series_blob(toks, ts)
    toks2, ts2 = C.decode_series_blob(blob)
    np.testing.assert_array_equal(toks, toks2)
    np.testing.assert_array_equal(ts, ts2)
    raw_bytes = n * (4 + 8)
    assert len(blob) < raw_bytes / 3, f"ratio too weak: {len(blob)}/{raw_bytes}"


def test_encode_series_df(spark):
    """A keyed Spark frame → one (doc_id, n_tok, blob) row per series,
    through the tier encoder: values re-quantized with the shared
    quantizer, timestamps taken from ``bucket_start``."""
    from pyhydroqc_spark.datagen import VAL_HI, VAL_LO
    from pyhydroqc_spark.quantize import quantize

    rng = np.random.default_rng(0)
    n = 400
    vals = 10 + np.cumsum(rng.normal(0, 0.05, n))
    starts = pd.date_range("2022-01-01", periods=n, freq="15min")
    pdf = pd.DataFrame({"doc_id": ["a"] * n, "bucket_start": starts, "avg_val": vals})
    # shuffled rows: the encoder orders each series by bucket_start
    pdf = pdf.sample(frac=1.0, random_state=1)
    out = C.encode_tier_df(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 1 and out["n_tok"][0] == n
    toks, ts = C.decode_series_blob(bytes(out["blob"][0]))
    np.testing.assert_array_equal(toks, quantize(vals, VAL_LO, VAL_HI))
    np.testing.assert_array_equal(ts, starts.asi8 // 10**9)
