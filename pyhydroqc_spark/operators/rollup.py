"""Tiered continuous aggregates — 15min / 1h / 1d rollups.

Engine-added operators (north_star): aggregates of the anomaly-corrected
series (`det_cor`, the output of the correction pass — semantics anchor
`pyhydroqc/arima_correct.py:96,151,161,171`).

Scale design:
* ``rollup_points`` aggregates the long fact table: each point is
  exploded once per requested tier and one ``groupBy(doc_id, tier,
  bucket)`` → partial+final hash aggregation from Catalyst computes every
  tier (map-side combine shrinks the shuffle by the bucket fan-in, here
  1 row per 1..N points per tier). A caller that needs several row-sets
  of several tiers materializes these cells once and reads them, instead
  of planning (and compiling) one aggregation per tier;
* coarser tiers can instead re-aggregate the next-finer tier
  (``rollup_from_rollup``: 1h from 15min, 1d from 1h) — sum/min/max/count
  compose, avg is recomputed as Σsum/Σcnt; this is a ~96× smaller input
  than re-scanning facts. The optional histogram, OHLC and counter
  columns compose tier-from-tier too;
* bucket = epoch-floor, a pure column expression (partition-prunable when
  the table is laid out by bucket day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TIER_15MIN = 900
TIER_1H = 3600
TIER_1D = 86400
DEFAULT_TIERS = (TIER_15MIN, TIER_1H, TIER_1D)

AGG_COLS = ["cnt", "sum_val", "avg_val", "min_val", "max_val"]


def _ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _double(x: float) -> str:
    """A float as a DOUBLE literal: Spark parses a bare ``5.0`` as
    DECIMAL, which would not analyze to the Column API's double."""
    return f"({float(x)!r}D)"


def bucket_col(ts_col: str, tier_seconds):
    """The bucket start of ``ts_col``: the epoch floored to a multiple of
    ``tier_seconds`` (an int, or the name of a column of them)."""
    t = _ident(tier_seconds) if isinstance(tier_seconds, str) else str(int(tier_seconds))
    return F.expr(
        f"timestamp_seconds(floor(unix_timestamp({_ident(ts_col)}) / {t}) * {t})"
    )


def rollup_points(
    df: DataFrame,
    tier_seconds: int | tuple,
    value_col: str = "det_cor",
    ts_col: str = "ts",
    key: str = "doc_id",
    hist: tuple | None = None,
    order_col: str | None = None,
    sum_cols: dict | None = None,
) -> DataFrame:
    """Fact rows → one aggregate row per (series, tier, bucket), columns
    ``key, tier, bucket_start`` then the aggregates.
    ``tier_seconds`` is one tier or a tuple of them: each point is
    exploded once per tier and ONE ``groupBy(key, tier, bucket_start)``
    aggregates every tier (an int is the one-tier tuple), so the finer
    and coarser tiers share a scan and an aggregation instead of each
    planning its own. ``hist=(bins, lo, hi)`` rides the composable
    percentile sketch in the SAME hash aggregation (one conditional count
    per bin — no second corpus pass, no join; this is how a continuous
    aggregate keeps percentile state next to its scalars). Bin
    ``clamp(floor((v-lo)/(hi-lo)·bins), 0, bins-1)``: out-of-domain
    values land in the edge bins, a NaN in bin 0 (it is counted by
    ``cnt`` too, so ``cnt == Σ hist``). ``order_col=`` adds OHLC
    open/close columns (the bucket's first/last value in that order);
    ``sum_cols={in: out}`` rides extra plain sums (e.g. counter
    increments) in the same aggregation.

    The aggregates are SQL text, the bin counts one ``array(count(...),
    ...)`` expression: the driver parses the wide list once instead of
    paying a py4j round trip per Column-API node (~10 per bin)."""
    tiers = (
        tuple(tier_seconds) if isinstance(tier_seconds, (tuple, list)) else (tier_seconds,)
    )
    v = _ident(value_col)
    aggs = [
        f"count({v}) AS cnt",
        f"sum({v}) AS sum_val",
        f"avg({v}) AS avg_val",
        f"min({v}) AS min_val",
        f"max({v}) AS max_val",
    ]
    if order_col is not None:
        # open/close: the value at the first/last row of the bucket in
        # order_col order (a unique per-series sequence — pos). With
        # min/max they make the OHLC candle; both compose exactly
        # through rollup_from_rollup (value of the earliest/latest finer
        # bucket), unlike avg which must be recomputed from sums.
        aggs += [
            f"min_by({v}, {_ident(order_col)}) AS open_val",
            f"max_by({v}, {_ident(order_col)}) AS close_val",
        ]
    aggs += [f"sum({_ident(c_in)}) AS {_ident(c_out)}" for c_in, c_out in (sum_cols or {}).items()]
    if hist is not None:
        n_bins, lo, hi = hist
        b = (
            f"least(greatest(CAST(floor(({v} - {_double(lo)}) / "
            f"{_double(hi - lo)} * {int(n_bins)}) AS INT), 0), {int(n_bins) - 1})"
        )
        counts = ", ".join(
            f"count(CASE WHEN {b} = {i} AND {v} IS NOT NULL THEN 1 END)"
            for i in range(n_bins)
        )
        aggs.append(f"array({counts}) AS `hist`")
    tier_list = ", ".join(str(int(t)) for t in tiers)
    return (
        df.withColumn("tier", F.expr(f"explode(array({tier_list}))"))
        .withColumn("bucket_start", bucket_col(ts_col, "tier"))
        .groupBy(key, "tier", "bucket_start")
        .agg(*map(F.expr, aggs))
    )


def rollup_from_rollup(
    agg_df: DataFrame,
    tier_seconds: int,
    key: str = "doc_id",
    sum_cols: tuple = (),
) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1h←15min, 1d←1h).
    A ``hist`` sketch column, when present, composes by exact elementwise
    integer sum — the property raw percentiles lack; ``sum_cols`` names
    extra columns that compose by plain sum (counter deltas)."""
    aggs = [
        "sum(cnt) AS cnt",
        "sum(sum_val) AS sum_val",
        "min(min_val) AS min_val",
        "max(max_val) AS max_val",
    ]
    aggs += [f"sum({_ident(c)}) AS {_ident(c)}" for c in sum_cols]
    has_ohlc = "open_val" in agg_df.columns
    if has_ohlc:
        # the earliest finer bucket's open / latest finer bucket's close —
        # ordered by the FINE bucket (kept as __fine_b below; the plain
        # bucket_start column is overwritten with the coarse bucket and
        # would be constant within the group)
        aggs += [
            "min_by(open_val, __fine_b) AS open_val",
            "max_by(close_val, __fine_b) AS close_val",
        ]
    has_hist = "hist" in agg_df.columns
    if has_hist:
        aggs.append(
            "aggregate(collect_list(`hist`), CAST(array() AS array<bigint>), "
            "(acc, x) -> CASE WHEN size(acc) = 0 THEN x "
            "ELSE zip_with(acc, x, (a, v) -> a + v) END) AS `hist`"
        )
    cols = [_ident(key), "bucket_start", "cnt", "sum_val", "sum_val / cnt AS avg_val",
            "min_val", "max_val"]
    cols += [_ident(c) for c in sum_cols]
    if has_ohlc:
        cols += ["open_val", "close_val"]
    if has_hist:
        cols.append("hist")
    src = agg_df
    if has_ohlc:
        src = src.withColumn("__fine_b", F.col("bucket_start"))
    return (
        src.withColumn("bucket_start", bucket_col("bucket_start", tier_seconds))
        .groupBy(key, "bucket_start")
        .agg(*map(F.expr, aggs))
        .selectExpr(*cols, f"{int(tier_seconds)} AS tier")
    )


# -- gap-fill (the TimescaleDB time_bucket_gapfill / locf / interpolate
#    read-side operators over continuous aggregates) ------------------------

FILL_STRATEGIES = ("null", "zero", "locf", "interpolate")


def gapfill(
    agg_df: DataFrame,
    tier_seconds: int,
    fill: dict[str, str] | None = None,
    key: str = "doc_id",
    bucket: str = "bucket_start",
) -> DataFrame:
    """Densify a rollup tier onto the full per-series bucket grid and fill
    the holes — the `time_bucket_gapfill` read operator every dashboard
    query over a continuous aggregate needs (a 15min tier with a 2h
    outage must plot 8 empty buckets, not silently skip them).

    ``fill`` maps column → strategy: ``"zero"`` (counts), ``"locf"``
    (last observation carried forward — only forward, leading holes stay
    NULL), ``"interpolate"`` (linear in bucket TIME between the nearest
    real buckets either side — strictly between known points, NULL
    outside, the TimescaleDB semantics), ``"null"`` (densify only).
    Default: cnt→zero, sum_val→zero, avg/min/max→interpolate when
    present. An ``is_gap`` column marks synthesized rows.

    Scale shape — gapfill runs on AGGREGATE tables (already bucket-fanned
    down from facts): one map-side-combined (min, max) per series, the
    dense grid generated by ``sequence``+``explode`` from that one row
    per series (rows ∝ buckets, no shuffle beyond the tiny agg), a join
    back on (key, bucket), then ONE exchange+sort per direction for the
    fill windows. Both the backward and forward scans are RUNNING frames
    (unboundedPreceding..current over asc and desc order) — never a
    ``currentRow..unboundedFollowing`` frame, which Spark evaluates
    O(n²) per partition."""
    if fill is not None:
        fill = dict(fill)
    else:
        # default: counts/sums zero-fill, numeric stats interpolate;
        # non-numeric columns (the hist array) densify only —
        # interpolation arithmetic over them fails plan analysis
        from pyspark.sql.types import NumericType

        types = {f.name: f.dataType for f in agg_df.schema.fields}
        fill = {
            c: (
                "zero"
                if c in ("cnt", "sum_val")
                else (
                    "interpolate"
                    if isinstance(types[c], NumericType)
                    else "null"
                )
            )
            for c in agg_df.columns
            if c not in (key, bucket, "tier")
        }
    for c, s in fill.items():
        if s not in FILL_STRATEGIES:
            raise ValueError(f"unknown fill strategy {s!r} for {c!r}")
        if c not in agg_df.columns:
            raise ValueError(f"fill column {c!r} not in frame")

    k, bq, t = _ident(key), _ident(bucket), f"unix_timestamp({_ident(bucket)})"
    span = agg_df.groupBy(key).agg(
        F.expr(f"min({t}) AS __lo"), F.expr(f"max({t}) AS __hi")
    )
    grid = span.selectExpr(
        k, f"explode(sequence(__lo, __hi, {int(tier_seconds)})) AS __b"
    ).selectExpr(k, f"timestamp_seconds(__b) AS {bq}")

    dense = grid.join(
        agg_df.withColumn("__real", F.lit(True)), [key, bucket], "left"
    )
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    asc = f"OVER (PARTITION BY {k} ORDER BY {bq} ASC {frame})"
    desc = f"OVER (PARTITION BY {k} ORDER BY {bq} DESC {frame})"
    out_cols = []
    for c in agg_df.columns:
        if c in (key, bucket):
            continue
        v, s = _ident(c), fill.get(c, "null")
        if s == "null":
            out_cols.append(v)
        elif s == "zero":
            out_cols.append(f"coalesce({v}, 0) AS {v}")
        elif s == "locf":
            out_cols.append(f"last({v}, true) {asc} AS {v}")
        else:  # interpolate
            pv, nv = f"last({v}, true) {asc}", f"last({v}, true) {desc}"
            at = f"CASE WHEN {v} IS NOT NULL THEN {t} END"
            pt, nt = f"last({at}, true) {asc}", f"last({at}, true) {desc}"
            out_cols.append(
                f"CASE WHEN {v} IS NOT NULL THEN {v} ELSE "
                f"{pv} + ({nv} - {pv}) * ({t} - {pt}) / ({nt} - {pt}) END AS {v}"
            )
    # the fill expressions are SQL text: as Column-API trees they cost
    # ~1,400 py4j round trips per gap-filled tier on the driver
    return dense.selectExpr(
        k, bq, *out_cols, "coalesce(NOT __real, true) AS is_gap"
    )


# -- composable percentile sketches (fixed-bin histograms) -------------------
#
# Percentiles do NOT compose tier-from-tier (the p95 of a day is not a
# function of its hours' p95s), so engines that keep continuous aggregates
# store a mergeable SKETCH per bucket and derive percentiles at read time
# (TimescaleDB percentile_agg / DataSketches). Here: a fixed-bin histogram —
# integer counts, so tier composition is an exact elementwise vector sum,
# replayable bit-for-bit by any SQL engine (no float wobble, unlike
# t-digest), at 8·bins bytes per bucket.


def hist_stats(hist_df: DataFrame, quantiles=(0.5, 0.95)) -> DataFrame:
    """Read-side derivation from the sketch: total count (``hist_n``, the
    row's ``cnt``, which counts exactly the values the bins count), an
    order-weighted checksum (Σ cnt_b·(b+1) — pins the full histogram in
    one integer), and the bin index of each requested quantile (smallest
    bin whose cumulative count covers q·total, decided in exact integer
    arithmetic: 100·cum ≥ q·100·total).

    All of it is ONE O(bins) fold: a struct accumulator carries the
    cumulative count, the checksum, the bin index and each quantile's
    found bin (a slice-sum cumulative array is O(bins²) of interpreted
    HOF ops per bucket — measured ~2s over 130k buckets at sf0.1). The
    fold is SQL-lambda text: the same HOFs built from Python lambdas cost
    a py4j round trip per node and per lambda variable on the driver."""
    qis = [int(round(q * 100)) for q in quantiles]
    found = "".join(
        f", coalesce(acc.b{qi}, CASE WHEN 100 * (acc.c + x) >= {qi} * `cnt` "
        f"AND `cnt` > 0 THEN acc.i END) AS b{qi}"
        for qi in qis
    )
    start = "".join(f", CAST(NULL AS INT) AS b{qi}" for qi in qis)
    fold = (
        "aggregate(`hist`, struct(CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS s, "
        f"CAST(0 AS INT) AS i{start}), (acc, x) -> struct(acc.c + x AS c, "
        f"acc.s + x * CAST(acc.i + 1 AS BIGINT) AS s, acc.i + 1 AS i{found}))"
    )
    return hist_df.selectExpr("*", f"{fold} AS `__hs`").selectExpr(
        *[f"`{c}`" for c in hist_df.columns],
        "CAST(`cnt` AS BIGINT) AS hist_n",
        "`__hs`.s AS hist_checksum",
        *[f"`__hs`.b{qi} AS p{qi}_bin" for qi in qis],
    )


# -- counter aggregates (Prometheus increase() / TimescaleDB counter_agg) ----


def counter_increment_expr(v, prev):
    """Per-row counter increment under monotonic-counter semantics, given
    the value and its within-series predecessor: the rise since the
    previous sample, and on a reset (value < previous — the process
    restarted and the counter rebooted at 0) the new value itself counts
    as the increase (the Prometheus ``increase()`` rule). First sample of
    a series contributes 0.

    Computed BEFORE bucketing, so bucket sums of the increment column
    compose exactly through every tier (the per-row increment at a
    bucket boundary belongs to the row's own bucket, and a coarser
    bucket's delta is the plain sum of its finer buckets' deltas —
    unlike max-minus-min-per-bucket, which loses cross-boundary rises).
    A column expression, so callers that already pay a window over
    (key, order) (e.g. a row_number pass) pass ``lag(value)`` from that
    window and ride the SAME exchange+sort (guide §2.4)."""
    return (
        F.when(prev.isNull() | v.isNull(), F.lit(0.0))
        .when(v >= prev, v - prev)
        .otherwise(v)
    )
