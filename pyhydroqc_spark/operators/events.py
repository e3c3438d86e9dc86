"""Event machinery — run enumeration, widening, bool grouping.

These are the reference's sequential Python scans re-expressed as O(n)
Window expressions (lag + running sum), so they stay JVM-side in
whole-stage codegen instead of crossing into Python:

* ``run_ids``      ↔ `anomaly_utilities.anomaly_events(wf=0)` enumeration
                     (/root/reference/pyhydroqc/anomaly_utilities.py:98-107)
* ``anomaly_events``↔ widen ±wf then enumerate, first/last wf rows forced 0
                     (anomaly_utilities.py:76-119)
* ``group_bools``  ↔ change-counter group ids starting at 0
                     (anomaly_utilities.py:313-343)

All partition by ``doc_id`` and order by ``pos`` — a single shuffle keyed on
the series id, shared by every downstream window over the same spec (Catalyst
reuses the sort/exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SERIES_KEY = "doc_id"
ORDER_COL = "pos"


def series_window(key: str = SERIES_KEY, order: str = ORDER_COL) -> Window:
    return Window.partitionBy(key).orderBy(order)


def run_ids(
    df: DataFrame,
    flag_col: str,
    out_col: str = "event_id",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """Enumerate maximal runs of ``flag_col`` 1..K per series; 0 off-run.

    Equivalent to the reference's event enumeration loop
    (`anomaly_utilities.py:98-107` with wf=0): a run starts where the flag
    turns on after an off (or at series start).
    """
    w = series_window(key, order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flag = F.col(flag_col).cast("boolean")
    started = flag & ~F.coalesce(F.lag(flag_col).over(w).cast("boolean"), F.lit(False))
    run_no = F.sum(started.cast("int")).over(wcum)
    return df.withColumn(out_col, F.when(flag, run_no).otherwise(F.lit(0)).cast("int"))


def widen_flags(
    df: DataFrame,
    flag_col: str,
    wf: int,
    out_col: str,
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """flag[i] := any(flag[i-wf .. i+wf]); first/last wf rows forced False.

    The edge forcing replicates `anomaly_utilities.py:95-96,109-111`: the
    reference never evaluates the window for the first/last wf points.
    """
    if wf == 0:
        return df.withColumn(out_col, F.col(flag_col).cast("boolean"))
    w = series_window(key, order)
    wslide = w.rowsBetween(-wf, wf)
    any_near = F.max(F.col(flag_col).cast("int")).over(wslide) > 0
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(
        Window.partitionBy(key).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    interior = (rn > wf) & (rn <= n - wf)
    return df.withColumn(out_col, (interior & any_near).cast("boolean"))


def anomaly_events(
    df: DataFrame,
    flag_col: str,
    wf: int = 1,
    out_col: str = "event_id",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """Widen anomalies by ±wf and enumerate the widened runs
    (`anomaly_utilities.py:76-119`; the sf significance warning is a
    driver-side print in the reference and intentionally dropped)."""
    tmp = f"__widened_{out_col}"
    out = widen_flags(df, flag_col, wf, tmp, key, order)
    out = run_ids(out, tmp, out_col, key, order)
    return out.drop(tmp)


def group_bools(
    df: DataFrame,
    in_col: str,
    out_col: str = "group_id",
    key: str = SERIES_KEY,
    order: str = ORDER_COL,
) -> DataFrame:
    """Index alternating True/False stretches 0,1,2,… per series
    (`anomaly_utilities.py:313-343`): increment at every change point."""
    w = series_window(key, order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cur = F.col(in_col).cast("int")
    prev = F.lag(cur).over(w)
    changed = F.when(prev.isNull(), F.lit(0)).otherwise(
        (cur != prev).cast("int")
    )
    return df.withColumn(out_col, F.sum(changed).over(wcum).cast("int"))


def run_lengths(
    df: DataFrame,
    run_col: str,
    out_col: str = "run_len",
    key: str = SERIES_KEY,
) -> DataFrame:
    """Length of each run, broadcast back to every member row (0 stays 0-run).

    Windowed count over (series, run) — no extra shuffle beyond the series
    exchange because run_col is a function of the series partition.
    """
    w = Window.partitionBy(key, run_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return df.withColumn(out_col, F.count(F.lit(1)).over(w).cast("int"))
