"""Validation surface — event comparison + confusion-matrix metrics.

Re-expression of `/root/reference/pyhydroqc/anomaly_utilities.py`:

* ``compare_events``   (:138-208) — a genuinely sequential two-state scan
  merging labeled & detected event runs into confusion-matrix groups
  (flip-flop / tn transition rules, tn-trimmed group edges via assign_cm
  :122-135). Runs clean-room per series inside applyInPandas.
* ``point_metrics``    (:215-247) — conditional-count aggregation + ratio
  columns, fully native Spark.
* ``event_metrics``    (:250-295) — transition counts via lag windows.
* ``aggregate_results``(:494-526) — boolean OR across detector columns.

Reference quirk preserved: the trailing group of a series is never
categorized (the reference assigns a group's category only when a later
row transitions out of it), so it stays 'tn'.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .events import SERIES_KEY, ORDER_COL, series_window


def _compare_one(labeled: np.ndarray, detected: np.ndarray, wf: int) -> np.ndarray:
    """Sequential group merge + categorize for one series."""
    n = len(labeled)
    grp = np.zeros(n, dtype=int)
    gi = 0
    prev_la, prev_da = labeled[0], detected[0]
    for i in range(n):
        la, da = labeled[i], detected[i]
        if la != prev_la or da != prev_da:
            if prev_la == 0 and prev_da == 0:
                gi += 1
            elif la == 0 and da == 0:
                gi += 1
            elif la != prev_la and da != prev_da:
                gi += 1
        grp[i] = gi
        prev_la, prev_da = la, da

    cm = np.full(n, "tn", dtype=object)
    # categorize every group except the last (reference assigns on exit
    # only). Group ids are nondecreasing (cumsum), so each group is a
    # contiguous slice — O(n) total instead of an O(n·G) mask rescan.
    starts = np.r_[0, np.flatnonzero(np.diff(grp)) + 1]
    ends = np.r_[starts[1:], n]
    for s, e in zip(starts, ends):
        if grp[s] >= gi:  # trailing group: never categorized
            continue
        has_d = detected[s:e].any()
        has_l = labeled[s:e].any()
        if not (has_d or has_l):
            continue
        val = "tp" if (has_d and has_l) else ("fp" if has_d else "fn")
        lo, hi = s + wf, e - wf
        if hi > lo:
            cm[lo:hi] = val
    return cm


def compare_events(
    df: DataFrame,
    wf: int = 1,
    labeled_col: str = "labeled_event",
    detected_col: str = "detected_event",
    out_col: str = "conf_mtx",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, StringType(), True)]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order).reset_index(drop=True)
        if len(pdf) == 0:
            pdf[out_col] = pd.Series(dtype=str)
            return pdf
        pdf[out_col] = _compare_one(
            pdf[labeled_col].to_numpy(), pdf[detected_col].to_numpy(), wf
        )
        return pdf

    return df.groupBy(key).applyInPandas(run, schema=out_schema)


def compare_events_sql(
    df: DataFrame,
    wf: int = 1,
    labeled_col: str = "labeled_event",
    detected_col: str = "detected_event",
    out_col: str = "conf_mtx",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """`compare_events` as pure Window expressions — no Python kernel.

    The reference's sequential merge is a running group id: a new group
    starts on a (labeled, detected) transition out of / into (0, 0) or when
    BOTH ids change; categories assign on group exit only (the trailing
    group never categorizes — quirk preserved) and ``wf`` edge rows of each
    categorized group stay 'tn'. Output-identical to the grouped-map kernel
    (tested); at scale this keeps the comparison inside whole-stage codegen
    with one exchange on the series key.
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
