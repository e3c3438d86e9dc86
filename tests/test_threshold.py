"""Dynamic threshold vs the fused kernel's prefix-sum threshold — including
the edge clamping (`anomaly_utilities.py:403-413`) — and the residual test
vs its numpy rule."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark.operators import fused, threshold


def _mk(spark, resids_by_doc):
    rows = [
        (d, i, float(v))
        for d, rs in resids_by_doc.items()
        for i, v in enumerate(rs)
    ]
    return spark.createDataFrame(rows, "doc_id string, pos int, residual double")


CASES = [(30, 0.0001, 0.25), (5, 0.05, 0.0), (96, 0.01, 0.1)]


def _resids():
    rng = np.random.default_rng(11)
    return {
        "a": rng.normal(0, 1, 300),
        "b": rng.normal(2, 0.5, 40),
        "c": rng.normal(0, 3, 7),  # shorter than window: reference shrinks w
    }


def _spark_threshold(spark, resids, window_sz, alpha, min_range):
    return (
        threshold.dynamic_threshold(
            _mk(spark, resids), window_sz=window_sz, alpha=alpha, min_range=min_range
        )
        .orderBy("doc_id", "pos")
        .select("doc_id", "low", "high")
        .toPandas()
    )


@pytest.mark.parametrize("window_sz,alpha,min_range", CASES)
def test_dynamic_threshold_matches_numpy_kernel(spark, window_sz, alpha, min_range):
    """The Spark window operator and the fused kernel's prefix-sum
    threshold agree on the same clamped centered window."""
    resids = _resids()
    out = _spark_threshold(spark, resids, window_sz, alpha, min_range)
    for d, rs in resids.items():
        lo, hi = fused.dynamic_threshold_np(rs, window_sz, alpha, min_range)
        got = out[out.doc_id == d].reset_index(drop=True)
        np.testing.assert_allclose(got["low"].values, lo, atol=1e-9, err_msg=d)
        np.testing.assert_allclose(got["high"].values, hi, atol=1e-9, err_msg=d)


def test_detect_threshold_anomalies_matches_numpy_rule(spark):
    """The residual test is the fused kernel's rule: a point is flagged
    iff its residual lies outside [low, high], and a missing residual or
    bound never flags by itself. Residuals carry NULL gaps and spikes,
    bounds come from ``dynamic_threshold`` over them, a few residuals sit
    exactly on a bound, a few rows get a NULL bound, and two rows carry
    NaN (not NULL): a NaN residual and NaN bounds."""
    rng = np.random.default_rng(21)
    rows = []
    for d, n in (("a", 300), ("b", 60), ("c", 9)):
        r = rng.normal(0, 1, n)
        r[rng.choice(n, size=max(1, n // 30), replace=False)] *= 8.0
        for i, v in enumerate(r):
            rows.append((d, i, None if rng.random() < 0.1 else float(v)))
    df = spark.createDataFrame(rows, "doc_id string, pos int, residual double")
    out = threshold.dynamic_threshold(df, window_sz=20, alpha=0.01, min_range=0.1)
    # a residual exactly on a bound is inside the band
    on_bound = F.col("pos") % 41
    out = out.withColumn(
        "residual",
        F.when(on_bound == 7, F.col("high")).when(on_bound == 8, F.col("low")).otherwise(F.col("residual")),
    )
    nulled = F.col("pos") % 37 == 5
    out = out.withColumn("low", F.when(nulled, None).otherwise(F.col("low")))
    out = out.withColumn("high", F.when(nulled & (F.col("doc_id") == "a"), None).otherwise(F.col("high")))
    nan = float("nan")
    out = out.unionByName(
        spark.createDataFrame(
            [("n", 0, nan, 0.0, 1.0), ("n", 1, 0.5, nan, nan)],
            "doc_id string, pos int, residual double, low double, high double",
        )
    )
    got = (
        threshold.detect_threshold_anomalies(out)
        .orderBy("doc_id", "pos")
        .select("residual", "low", "high", "detected_anomaly")
        .toPandas()
    )
    r, lo, hi = (got[c].to_numpy(dtype=float) for c in ("residual", "low", "high"))
    with np.errstate(invalid="ignore"):
        want = (r < lo) | (r > hi)
    want = np.where(np.isnan(r), False, want)
    flags = got["detected_anomaly"].to_numpy()
    assert flags.dtype == bool
    np.testing.assert_array_equal(flags, want)
    assert flags.sum() >= 5 and np.isnan(r).sum() >= 10 and np.isnan(lo).sum() >= 5
    assert ((r == hi) | (r == lo)).sum() >= 10


def test_constant_threshold_anomalies_reads_nan_as_missing(spark):
    """The scalar-bound test flags r < low or r > high; a NULL or NaN
    residual, or NaN bounds, never flag."""
    nan = float("nan")
    rs = [-2.0, -1.0, 0.5, 1.0, 2.0, None, nan]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(rs)], "pos int, residual double")

    def flags(low, high):
        out = threshold.constant_threshold_anomalies(df, "residual", low, high)
        return out.orderBy("pos").toPandas()["detected_anomaly"].tolist()

    assert flags(-1.0, 1.0) == [True, False, False, False, True, False, False]
    assert flags(nan, nan) == [False] * len(rs)
