"""Dynamic residual thresholds + anomaly detection.

Re-expression of pyhydroqc's `anomaly_utilities.py:381-423`
(`set_dynamic_threshold`) and `:448-471` (`detect_anomalies`).

The reference computes, per point i, mean ± z·std of residuals over the
index slice [max(0,i−w) : min(i+w,n−1)] inclusive — exactly a clamped
centered window, i.e. Spark ``rowsBetween(-w, w)``. (Its explicit lo/hi
clamping at `:403-410` reduces to Python-slice clamping;
tests/test_threshold.py checks the window against the fused kernel's
prefix-sum threshold, ``fused.dynamic_threshold_np``.)

One physical strategy: native windowed avg/stddev_samp — Spark maintains
central moments, numerically agreeing with pandas ``.std()`` (ddof=1).
O(n·w) work per series but fully JVM/codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..stats import z_for_alpha
from .events import SERIES_KEY, ORDER_COL, series_window


def dynamic_threshold(
    df: DataFrame,
    resid_col: str = "residual",
    window_sz: int = 96,
    alpha: float = 0.0001,
    min_range: float = 0.0,
    low_col: str = "low",
    high_col: str = "high",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """Adds per-point [low, high] threshold columns."""
    z = z_for_alpha(alpha)
    w = series_window(key, order).rowsBetween(-window_sz, window_sz)
    mean = F.avg(resid_col).over(w)
    sigma = F.stddev_samp(resid_col).over(w)
    rng = F.greatest(F.lit(float(min_range)), z * sigma)
    return df.withColumn(low_col, mean - rng).withColumn(high_col, mean + rng)


def detect_threshold_anomalies(
    df: DataFrame,
    resid_col: str = "residual",
    low_col: str = "low",
    high_col: str = "high",
    flag_col: str = "detected_anomaly",
) -> DataFrame:
    """anomaly := resid < low OR resid > high (`anomaly_utilities.py:464`);
    a missing (NULL or NaN) residual or bound never flags by itself."""
    return _outside(df, flag_col, F.col(resid_col), F.col(low_col), F.col(high_col))


def _outside(df: DataFrame, flag_col: str, r, low, high) -> DataFrame:
    """``flag_col`` := r < low OR high < r, with NaN read as NULL: Spark
    orders NaN above every number, so ``NaN > high`` would be true."""
    r, low, high = (F.nanvl(c, F.lit(None).cast("double")) for c in (r, low, high))
    return df.withColumn(flag_col, F.coalesce((r < low) | (high < r), F.lit(False)))


def constant_threshold(
    df: DataFrame,
    resid_col: str = "residual",
    alpha: float = 0.0001,
    key: str = SERIES_KEY,
) -> DataFrame:
    """Per-series constant threshold from the residual distribution —
    the engine analog of `anomaly_utilities.set_cons_threshold`
    (`anomaly_utilities.py:426-445`, which derives it from the SARIMAX
    confidence interval; with the engine's own ARIMA the equivalent scalar
    is z·σ̂ of the in-sample residuals). Returns (key, low, high)."""
    z = z_for_alpha(alpha)
    return df.groupBy(key).agg(
        (-z * F.stddev_samp(resid_col)).alias("low"),
        (z * F.stddev_samp(resid_col)).alias("high"),
    )


def constant_threshold_anomalies(
    df: DataFrame,
    resid_col: str,
    low,
    high,
    flag_col: str = "detected_anomaly",
) -> DataFrame:
    """Constant-threshold variant (`anomaly_utilities.py:474-491`)."""
    return _outside(df, flag_col, F.col(resid_col), F.lit(low), F.lit(high))
