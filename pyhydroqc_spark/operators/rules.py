"""Rules-based QC — range, persistence, interpolation, sentinel labels.

Spark-native re-expression of `/root/reference/pyhydroqc/rules_detect.py`.
Every operator is a pure column/Window expression (JVM, whole-stage codegen);
nothing here crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .events import SERIES_KEY, ORDER_COL, run_ids, run_lengths, series_window

NO_DATA = -9999.0


def range_check(
    df: DataFrame,
    max_range,
    min_range,
    value_col: str = "value",
    flag_col: str = "anomaly",
) -> DataFrame:
    """anomaly := value > max OR value < min (`rules_detect.py:11-27`).

    ``max_range``/``min_range`` may be floats or Columns (from a broadcast
    params join), so per-series bounds cost nothing extra.
    NULL values compare NULL → flag False, matching pandas NaN comparisons.
    """
    mx = max_range if hasattr(max_range, "_jc") else F.lit(float(max_range))
    mn = min_range if hasattr(min_range, "_jc") else F.lit(float(min_range))
    v = F.col(value_col)
    return df.withColumn(
        flag_col, F.coalesce((v > mx) | (v < mn), F.lit(False))
    )


def persistence(
    df: DataFrame,
    length,
    value_col: str = "value",
    flag_col: str = "anomaly",
    output_grp: bool = False,
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """Flag runs of repeated values of length ≥ ``length``
    (`rules_detect.py:30-52`).

    Reference semantics: the repeat flag is ``diff(1) == 0`` — the FIRST
    point of an equal-valued stretch is *not* part of the persist group
    (its diff is nonzero/NaN), so a stretch of k equal values forms a
    group of k−1. NULL-vs-anything diffs are not repeats.
    """
    ln = length if hasattr(length, "_jc") else F.lit(int(length))
    w = series_window(key, order)
    prev = F.lag(value_col).over(w)
    rep = F.coalesce(F.col(value_col) == prev, F.lit(False))
    out = df.withColumn("__rep", rep)
    out = run_ids(out, "__rep", "persist_grp", key, order)
    out = run_lengths(out, "persist_grp", "__grp_len", key)
    grp_len = F.when(F.col("persist_grp") > 0, F.col("__grp_len")).otherwise(F.lit(0))
    out = out.withColumn(
        flag_col,
        F.col(flag_col) | ((F.col("persist_grp") > 0) & (grp_len >= ln)),
    ).drop("__rep", "__grp_len")
    if not output_grp:
        out = out.drop("persist_grp")
    return out


def group_size(
    df: DataFrame, flag_col: str = "anomaly", key: str = SERIES_KEY
) -> DataFrame:
    """Largest consecutive anomalous run per series (`rules_detect.py:55-72`).
    Returns (key, max_run_len)."""
    out = run_ids(df, flag_col, "__run", key)
    return (
        out.where(F.col("__run") > 0)
        .groupBy(key, "__run")
        .count()
        .groupBy(key)
        .agg(F.coalesce(F.max("count"), F.lit(0)).cast("int").alias("max_run_len"))
    )


def mask_anomalies(
    df: DataFrame,
    value_col: str = "value",
    flag_col: str = "anomaly",
    out_col: str = "observed",
) -> DataFrame:
    """observed := NULL where anomalous else value (`rules_detect.py:84`)."""
    return df.withColumn(
        out_col,
        F.when(F.col(flag_col), F.lit(None).cast("double")).otherwise(
            F.col(value_col)
        ),
    )


def interpolate(
    df: DataFrame,
    limit: int = 10000,
    value_col: str = "value",
    flag_col: str = "anomaly",
    out_col: str = "observed",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """Linear gap-fill over anomalous/missing points (`rules_detect.py:75-87`,
    pandas ``interpolate(method='linear', limit, limit_direction='both')``).

    Position-linear blend between the nearest valid neighbors:
        y = prev + (next − prev) · (pos − prev_pos) / (next_pos − prev_pos)
    Leading/trailing gaps take the nearest valid value (both-direction fill).
    The pandas ``limit`` rule fills a NULL only if it is within ``limit``
    rows of a valid point on at least one side.

    Pure Window expressions: the backward fill is a running last-non-null;
    the forward fill is the same running frame over DESCENDING order —
    both incremental O(n). (A naive `currentRow..unboundedFollowing` frame
    is O(n²) in Spark's WindowExec: it rescans the remainder per row.)
    """
    masked = mask_anomalies(df, value_col, flag_col, "__m")
    w = series_window(key, order)
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wrev = (
        Window.partitionBy(key)
        .orderBy(F.col(order).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rn = F.row_number().over(w)
    out = masked.withColumn("__rn", rn)
    pv = F.last("__m", ignorenulls=True).over(wb)
    pr = F.last(F.when(F.col("__m").isNotNull(), F.col("__rn")), ignorenulls=True).over(wb)
    nv = F.last("__m", ignorenulls=True).over(wrev)
    nr = F.last(F.when(F.col("__m").isNotNull(), F.col("__rn")), ignorenulls=True).over(wrev)
    out = (
        out.withColumn("__pv", pv)
        .withColumn("__pr", pr)
        .withColumn("__nv", nv)
        .withColumn("__nr", nr)
    )
    dist_p = F.col("__rn") - F.col("__pr")
    dist_n = F.col("__nr") - F.col("__rn")
    within = (
        F.coalesce(dist_p <= limit, F.lit(False))
        | F.coalesce(dist_n <= limit, F.lit(False))
    )
    interp = F.col("__pv") + (F.col("__nv") - F.col("__pv")) * dist_p / (
        F.col("__nr") - F.col("__pr")
    )
    filled = (
        F.when(F.col("__m").isNotNull(), F.col("__m"))
        .when(~within, F.lit(None).cast("double"))
        .when(F.col("__pv").isNull(), F.col("__nv"))
        .when(F.col("__nv").isNull(), F.col("__pv"))
        .otherwise(interp)
    )
    return out.withColumn(out_col, filled).drop(
        "__m", "__rn", "__pv", "__pr", "__nv", "__nr"
    )


def add_labels(
    df: DataFrame,
    value=NO_DATA,
    raw_col: str = "value",
    cor_col: str = "cor",
    label_col: str = "labeled_anomaly",
) -> DataFrame:
    """labeled_anomaly |= raw==sentinel OR cor==sentinel OR cor IS NULL
    (`rules_detect.py:90-104`)."""
    return df.withColumn(
        label_col,
        F.col(label_col)
        | F.coalesce(F.col(raw_col) == value, F.lit(False))
        | F.coalesce(F.col(cor_col) == value, F.lit(False))
        | F.col(cor_col).isNull(),
    )
