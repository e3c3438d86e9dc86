"""Validation surface — event comparison + confusion-matrix metrics.

Re-expression of the reference's `pyhydroqc/anomaly_utilities.py`:

* ``compare_events_sql`` (:138-208) — the reference's sequential two-state
  scan merging labeled & detected event runs into confusion-matrix groups
  (flip-flop / tn transition rules, tn-trimmed group edges via assign_cm
  :122-135), written as a running group id over Window expressions.
* ``point_metrics``    (:215-247) — conditional-count aggregation + ratio
  columns, fully native Spark.
* ``event_metrics``    (:250-295) — transition counts via lag windows.
* ``aggregate_results``(:494-526) — boolean OR across detector columns.

Reference quirk preserved: the trailing group of a series is never
categorized (the reference assigns a group's category only when a later
row transitions out of it), so it stays 'tn'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .events import SERIES_KEY, ORDER_COL, series_window


def compare_events_sql(
    df: DataFrame,
    wf: int = 1,
    labeled_col: str = "labeled_event",
    detected_col: str = "detected_event",
    out_col: str = "conf_mtx",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """The reference's `compare_events` as pure Window expressions.

    The sequential merge is a running group id: a new group starts on a
    (labeled, detected) transition out of / into (0, 0) or when BOTH ids
    change; categories assign on group exit only (the trailing group never
    categorizes — quirk preserved) and ``wf`` edge rows of each categorized
    group stay 'tn'. Row-identical to a sequential numpy scan of the
    reference loop (tested); the comparison stays inside whole-stage
    codegen with one exchange on the series key.
    """
    w = series_window(key, order)
    la, da = F.col(labeled_col), F.col(detected_col)
    pla = F.coalesce(F.lag(labeled_col).over(w), la)
    pda = F.coalesce(F.lag(detected_col).over(w), da)
    changed = (la != pla) | (da != pda)
    inc = (
        changed
        & (
            ((pla == 0) & (pda == 0))
            | ((la == 0) & (da == 0))
            | ((la != pla) & (da != pda))
        )
    ).cast("int")
    out = df.withColumn("__g", F.sum(inc).over(w))
    wg = Window.partitionBy(key, "__g")
    wga = wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    gmax = F.max("__g").over(
        Window.partitionBy(key).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    has_l = F.max((la > 0).cast("int")).over(wga) == 1
    has_d = F.max((da > 0).cast("int")).over(wga) == 1
    grn = F.row_number().over(wg.orderBy(order))
    gcnt = F.count(F.lit(1)).over(wga)
    cat = F.when(has_d & has_l, "tp").when(has_d, "fp").otherwise("fn")
    cm = F.when(
        (F.col("__g") < gmax)
        & (has_d | has_l)
        & (grn > wf)
        & (grn <= gcnt - wf),
        cat,
    ).otherwise(F.lit("tn"))
    return out.withColumn(out_col, cm).drop("__g")


def point_metrics(df: DataFrame, cm_col: str = "conf_mtx") -> DataFrame:
    """tp/fp/fn/tn counts + prc/npv/acc/rcl/f1/f2 over all rows
    (`anomaly_utilities.py:215-247`)."""
    cnt = lambda v: F.sum((F.col(cm_col) == v).cast("long"))
    agg = df.agg(
        cnt("tp").alias("tp"),
        cnt("fp").alias("fp"),
        cnt("fn").alias("fn"),
        cnt("tn").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    # try_divide: empty strata (no detections / no labels) yield NULL
    # ratios instead of an ANSI divide-by-zero error
    return (
        agg.withColumn("prc", F.try_divide(tp, tp + fp))
        .withColumn("npv", F.try_divide(tn, tn + fn))
        .withColumn("acc", F.try_divide(tp + tn, tp + tn + fp + fn))
        .withColumn("rcl", F.try_divide(tp, tp + fn))
        .withColumn(
            "f1",
            F.try_divide(2.0 * (F.col("prc") * F.col("rcl")), F.col("prc") + F.col("rcl")),
        )
        .withColumn("f2", F.try_divide(5.0 * tp, 5.0 * tp + 4.0 * fn + fp))
    )


def event_metrics(df: DataFrame, cm_col: str = "conf_mtx") -> DataFrame:
    """Event-level counts over all series: a category change into tp/fp/fn
    counts one event (`anomaly_utilities.py:268-295`)."""
    w = series_window()
    prev = F.coalesce(F.lag(cm_col).over(w), F.lit("tn"))
    changed = F.col(cm_col) != prev
    flagged = df.withColumn("__new_ev", changed)
    cnt = lambda v: F.sum(
        (F.col("__new_ev") & (F.col(cm_col) == v)).cast("long")
    )
    agg = flagged.agg(
        cnt("tp").alias("tp"), cnt("fp").alias("fp"), cnt("fn").alias("fn")
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    return (
        agg.withColumn("prc", F.try_divide(tp, tp + fp))
        .withColumn("rcl", F.try_divide(tp, tp + fn))
        .withColumn(
            "f1",
            F.try_divide(2.0 * (F.col("prc") * F.col("rcl")), F.col("prc") + F.col("rcl")),
        )
        .withColumn("f2", F.try_divide(5.0 * tp, 5.0 * tp + 4.0 * fn + fp))
    )


def aggregate_results(
    dfs: dict[str, DataFrame],
    event_col: str = "detected_event",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """OR of per-model detections (`anomaly_utilities.py:494-526`): a point is
    anomalous if ANY model's detected_event > 0. Multi-way join on
    (series, pos) then greatest() of the flags."""
    out = None
    for name, d in dfs.items():
        cur = d.select(key, order, (F.col(event_col) > 0).alias(f"__{name}"))
        out = cur if out is None else out.join(cur, on=[key, order])
    flags = [F.col(c) for c in out.columns if c.startswith("__")]
    ored = flags[0]
    for fcol in flags[1:]:
        ored = ored | fcol
    return out.withColumn("detected_event", ored).select(key, order, "detected_event")
