"""Time-ordered join operators Spark lacks natively: as-of join and
gap-based sessionization.

The as-of join ("each left row gets the most recent right row at or
before its timestamp, per key") is THE time-series join — aligning
sensor readings with the latest calibration record, a trade with the
prevailing quote, a QC window with the last deployed parameter set. The
naive Spark spelling is a range join (``l.ts >= r.ts`` + a max-per-row
dedup), which Catalyst executes as a broadcast-nested-loop or a
sort-merge over an EXPLODED inequality — O(|L|·|R|) per key and a
scale-killer at any real cardinality.

This implementation is the UNION-WINDOW shape: tag both sides, union
them (a columnar append, no comparison), and take a running
``last(value, ignorenulls)`` over (key, time) order — the right row's
payload "carries forward" to every left row until the next right row
replaces it. Cost: ONE shuffle on the key + one sort, identical to any
windowed aggregate over the same data; no row ever meets more than its
own partition's sort. DuckDB's native ASOF JOIN verifies the semantics
independently in the driver gate.

Sessionization (split a per-key event stream into sessions separated by
``gap`` of silence) is the standard behavioral/time-series segmentation;
the row-level form is a lag+cumsum island numbering, and the aggregate
form uses Spark's native ``session_window`` (streaming-compatible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] = "doc_id",
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """All left rows with ``value_cols`` from the most recent right row at
    or before the left row's ``on`` time, per ``by`` key (a backward
    as-of join with no tolerance). Ties on the timestamp match the right
    row (the pandas/DuckDB ASOF convention); the matched right time is
    returned as ``{on}{suffix}``. Unmatched left rows keep NULLs.

    Duplicate right rows at the same (key, time) follow pandas
    ``merge_asof``: the LAST of them wins, in the right frame's row
    order. That order is the order of the right
    frame's partitions and of the rows inside each, so the winner is only
    as deterministic as that order: a right frame that comes out of a
    shuffle (``repartition``, a join, an aggregation) may pick a
    different duplicate on another run. Sort or deduplicate the right
    frame first when duplicates carry different values.

    Physical shape: union + running window — one exchange on ``by``, one
    sort on (time, side-tag); never a range join."""
    keys = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in keys and c != on]
    overlap = set(value_cols) & set(left.columns)
    out_names = {c: (c + suffix if c in overlap else c) for c in value_cols}

    r = right.select(
        *keys,
        F.col(on).alias("__t"),
        F.lit(1).alias("__r"),
        # occurrence id pins the winner among DUPLICATE right rows at the
        # same (key, time): without it two such rows resolve by partition
        # order, i.e. nondeterministically. Ids follow the right frame's
        # row order, so the pandas merge_asof convention holds: the LAST
        # duplicate wins.
        F.monotonically_increasing_id().alias("__rid"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    l = left.select(
        "*",
        F.col(on).alias("__t"),
        F.lit(0).alias("__r"),
        F.lit(None).cast("long").alias("__rid"),
        *[F.lit(None).cast(rf.dataType).alias(f"__v_{c}")
          for c, rf in ((c, right.schema[c]) for c in value_cols)],
    )
    both = l.unionByName(r, allowMissingColumns=True)

    # at equal times the right row must sort FIRST so "at or before"
    # includes it: descending on the side tag (right=1 before left=0).
    # The final __rid key orders duplicate right rows ascending so F.last
    # picks the last duplicate; left rows carry NULL __rid and are
    # unaffected (__r already separates the sides at equal times).
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col("__r").desc(), F.col("__rid").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched_t = F.last(F.when(F.col("__r") == 1, F.col("__t")), ignorenulls=True).over(w)
    fills = {
        c: F.last(F.when(F.col("__r") == 1, F.col(f"__v_{c}")), ignorenulls=True).over(w)
        for c in value_cols
    }

    # windows BEFORE the side filter — filtering first would hide the
    # right rows from the very frames that carry their payload
    enriched = both.select(
        "*",
        *[e.alias(f"__f_{c}") for c, e in fills.items()],
        matched_t.alias("__mt"),
    )
    return enriched.where(F.col("__r") == 0).select(
        *[c for c in left.columns],
        *[F.col(f"__f_{c}").alias(out_names[c]) for c in value_cols],
        F.col("__mt").alias(f"{on}{suffix}"),
    )


def sessionize(
    df: DataFrame,
    gap_seconds: int,
    ts_col: str = "ts",
    key: str | list[str] = "doc_id",
    session_col: str = "session_id",
) -> DataFrame:
    """Row-level session numbering: a new session starts whenever the
    time since the previous event of the same key exceeds
    ``gap_seconds``. Sessions are numbered 0.. per key in time order
    (lag + running sum — one exchange, one sort)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    t = F.unix_timestamp(F.col(ts_col))
    new_s = (
        t - F.lag(t).over(w) > gap_seconds
    )
    run = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(
        session_col,
        F.sum(F.coalesce(new_s.cast("long"), F.lit(0))).over(run),
    )


def session_stats(
    df: DataFrame,
    gap_seconds: int,
    ts_col: str = "ts",
    key: str | list[str] = "doc_id",
) -> DataFrame:
    """One row per session: (key, session_start, session_end, n_rows) via
    Spark's NATIVE session_window aggregate — the streaming-compatible
    form (works under watermarks in Structured Streaming; the batch
    semantics equal ``sessionize`` + groupBy, which the driver gate's
    SQL replay proves)."""
    keys = [key] if isinstance(key, str) else list(key)
    win = F.session_window(F.col(ts_col), f"{int(gap_seconds)} seconds")
    return (
        df.groupBy(*keys, win.alias("__w"))
        .agg(F.count("*").alias("n_rows"))
        .select(
            *keys,
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            "n_rows",
        )
    )
