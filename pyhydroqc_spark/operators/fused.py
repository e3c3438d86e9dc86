"""Fused per-series kernel — QC → detect → correct in ONE grouped-map pass.

Alternative physical strategy to the JVM-native operator chain: the long
pipeline (≈15 window ops + 2 Python crossings + a broadcast join) becomes a
single shuffle on doc_id and a single Arrow crossing, with all per-series
math in numpy/pandas. Semantics are identical — each step mirrors the
reference function the JVM operators also mirror (tests drive both against
the genuine reference):

* range check       ↔ rules_detect.range_check      (:11-27)
* persistence       ↔ rules_detect.persistence      (:30-52)
* interpolation     ↔ rules_detect.interpolate      (:75-87)
* ARIMA residuals   ↔ modeling_utilities.build_arima_model (engine ARIMA)
* dynamic threshold ↔ anomaly_utilities.set_dynamic_threshold (:381-423)
* detect + events   ↔ anomaly_utilities.detect_anomalies/anomaly_events
* correction        ↔ arima_correct.generate_corrections (correct.py kernel)

When to choose which: the fused kernel wins when series are long and the
cluster is Python-worker-rich (fewer barriers, no repeated sorts); the
native chain wins when only part of the pipeline is needed, when q=0 lets
the AR fit stay JVM-side, or when Python workers are the scarce resource.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..params import DEFAULT_PARAMS, SeriesParams
from ..stats import z_for_alpha
from .arima import fit_arima
from .correct import correct_series
from .events import SERIES_KEY, ORDER_COL


def range_flags_np(x: np.ndarray, max_range: float, min_range: float) -> np.ndarray:
    with np.errstate(invalid="ignore"):
        return (x > max_range) | (x < min_range)


def run_ids_np(flags: np.ndarray) -> np.ndarray:
    """Enumerate maximal True-runs 1..K, 0 elsewhere."""
    f = np.asarray(flags, dtype=bool)
    started = f & ~np.r_[False, f[:-1]]
    ids = np.cumsum(started)
    return np.where(f, ids, 0)


def persistence_np(x: np.ndarray, anomaly: np.ndarray, length: int):
    """rules_detect.persistence semantics: repeat flag is diff==0 (first
    element of an equal run excluded); runs with len ≥ length flagged."""
    rep = np.r_[False, x[1:] == x[:-1]]
    grp = run_ids_np(rep)
    out = anomaly.copy()
    if grp.max() > 0:
        sizes = np.bincount(grp)
        long_runs = np.flatnonzero(sizes >= length)
        long_runs = long_runs[long_runs > 0]
        out |= np.isin(grp, long_runs)
    return out, grp


def interpolate_np(x: np.ndarray, anomaly: np.ndarray, limit: int = 10000) -> np.ndarray:
    """Pure-numpy replica of ``pd.Series.interpolate(method='linear',
    limit=limit, limit_direction='both')`` on a RangeIndex — pandas
    routes that exact case through ``np.interp`` too, so the float path
    is bit-identical (3000-case fuzz incl. limit-binding runs and edge
    runs), at ~2.5x less per-series overhead in the fused kernel."""
    masked = np.where(anomaly, np.nan, np.asarray(x, dtype=float))
    n = len(masked)
    valid = ~np.isnan(masked)
    if not valid.any() or valid.all():
        return masked
    idx = np.arange(n)
    out = np.interp(idx, idx[valid], masked[valid])
    # limit + limit_direction='both': a NaN survives iff its distance
    # from BOTH ends of its NaN run exceeds `limit`
    last_valid = np.maximum.accumulate(np.where(valid, idx, -1))
    dist_left = np.where(last_valid < 0, n + 1, idx - last_valid)
    next_valid = np.minimum.accumulate(np.where(valid, idx, 2 * n)[::-1])[::-1]
    dist_right = np.where(next_valid >= 2 * n, n + 1, next_valid - idx)
    keep_nan = ~valid & (dist_left > limit) & (dist_right > limit)
    return np.where(keep_nan, np.nan, out)


def dynamic_threshold_np(resid: np.ndarray, window_sz: int, alpha: float, min_range: float):
    """Clamped centered window mean ± max(z·std, min_range), O(n) prefix sums.

    Matches set_dynamic_threshold's slicing [max(0,i−w) : min(i+w,n−1)]
    inclusive (`anomaly_utilities.py:402-413`), pandas ddof=1 std.
    """
    n = len(resid)
    z = z_for_alpha(alpha)
    r = np.nan_to_num(resid, nan=0.0)
    valid = (~np.isnan(resid)).astype(np.int64)
    c1 = np.r_[0, np.cumsum(valid)]
    s1 = np.r_[0.0, np.cumsum(r)]
    s2 = np.r_[0.0, np.cumsum(r * r)]
    i = np.arange(n)
    lo = np.maximum(0, i - window_sz)
    hi = np.minimum(n - 1, i + window_sz)
    cnt = c1[hi + 1] - c1[lo]
    sx = s1[hi + 1] - s1[lo]
    sxx = s2[hi + 1] - s2[lo]
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = sx / cnt
        var = (sxx - sx * sx / cnt) / (cnt - 1)
        sigma = np.sqrt(np.maximum(var, 0.0))
    rng = np.maximum(z * sigma, min_range)
    return mean - rng, mean + rng


def widen_events_np(flags: np.ndarray, wf: int) -> np.ndarray:
    """anomaly_events: widen ±wf (first/last wf rows forced 0), enumerate."""
    f = np.asarray(flags, dtype=bool)
    n = len(f)
    if wf == 0:
        return run_ids_np(f)
    c = np.r_[0, np.cumsum(f.astype(np.int64))]
    i = np.arange(n)
    lo = np.maximum(0, i - wf)
    hi = np.minimum(n - 1, i + wf)
    near = (c[hi + 1] - c[lo]) > 0
    interior = (i >= wf) & (i < n - wf)
    return run_ids_np(near & interior)


FUSED_SCHEMA_FIELDS = [
    StructField("anomaly", BooleanType(), True),
    StructField("observed", DoubleType(), True),
    StructField("residual", DoubleType(), True),
    StructField("detected_anomaly", BooleanType(), True),
    StructField("detected_event", IntegerType(), True),
    StructField("det_cor", DoubleType(), True),
    StructField("corrected", BooleanType(), True),
]


def fused_series_kernel(
    x: np.ndarray,
    ts: pd.DatetimeIndex,
    p: SeriesParams,
    arima_order=(1, 1, 0),
):
    """Whole per-series pipeline in numpy. Returns dict of output arrays."""
    anom = range_flags_np(x, p.max_range, p.min_range)
    anom, _ = persistence_np(x, anom, p.persist)
    observed = interpolate_np(x, anom)
    valid = ~np.isnan(observed)
    resid = np.full(len(x), np.nan)
    if valid.all() and len(x) > max(p.pdq[0], p.pdq[2]) + p.pdq[1] + 2:
        resid, _, _ = fit_arima(observed, *p.pdq)
    elif valid.any():
        xi = np.where(
            valid, observed,
            np.interp(np.arange(len(x)), np.flatnonzero(valid), observed[valid]),
        )
        r, _, _ = fit_arima(xi, *p.pdq)
        resid = np.where(valid, r, np.nan)
    low, high = dynamic_threshold_np(resid, p.window_sz, p.alpha, p.threshold_min)
    with np.errstate(invalid="ignore"):
        detected = (resid < low) | (resid > high)
    detected = np.where(np.isnan(resid), False, detected)
    all_anom = detected | anom
    events = widen_events_np(all_anom, p.widen)
    det_cor, corrected = correct_series(observed, events, ts, order=arima_order)
    return {
        "anomaly": anom,
        "observed": observed,
        "residual": resid,
        "detected_anomaly": detected,
        "detected_event": events.astype(np.int32),
        "det_cor": det_cor,
        "corrected": corrected,
    }


def _token_series_tiers(toks, p, arima_order, tiers, t0_epoch, cadence_s, lo, hi):
    """One series' token array → per-tier cell vectors: dequantize →
    ``fused_series_kernel`` → ``reduceat`` per tier. Yields ``(tier,
    bucket_s, cnt, sum_val, min_val, max_val)`` with NaN aggregates on
    empty (cnt=0) cells; yields nothing for an empty series."""
    from ..quantize import dequantize

    x = dequantize(np.asarray(toks, dtype=np.int64), lo, hi)
    n = len(x)
    if n == 0:
        return
    epochs = t0_epoch + np.arange(n, dtype=np.int64) * cadence_s
    out = fused_series_kernel(
        x, pd.DatetimeIndex(pd.to_datetime(epochs, unit="s")), p, arima_order
    )
    v = out["det_cor"]
    valid = np.isfinite(v)
    vz = np.where(valid, v, 0.0)
    vmin = np.where(valid, v, np.inf)
    vmax = np.where(valid, v, -np.inf)
    for t in tiers:
        bucket = (epochs // t) * t
        starts = np.flatnonzero(np.r_[True, bucket[1:] != bucket[:-1]])
        cnt = np.add.reduceat(valid.astype(np.int64), starts)
        empty = cnt == 0
        yield (
            t,
            bucket[starts],
            cnt,
            np.where(empty, np.nan, np.add.reduceat(vz, starts)),
            np.where(empty, np.nan, np.minimum.reduceat(vmin, starts)),
            np.where(empty, np.nan, np.maximum.reduceat(vmax, starts)),
        )


def _kernel_setup(params, tier_seconds, t0, cadence_s, lo, hi):
    """Resolve the token-kernel defaults shared by both emitters."""
    from ..datagen import CADENCE_S, T0, VAL_HI, VAL_LO

    tiers = (
        (int(tier_seconds),)
        if isinstance(tier_seconds, (int, float))
        else tuple(int(t) for t in tier_seconds)
    )
    return dict(
        p=params or DEFAULT_PARAMS,
        tiers=tiers,
        t0_epoch=int(pd.Timestamp(t0 or T0).timestamp()),
        cadence_s=cadence_s or CADENCE_S,
        lo=VAL_LO if lo is None else lo,
        hi=VAL_HI if hi is None else hi,
    )


def fused_tokens_to_tiers(
    tok_df: DataFrame,
    params: SeriesParams | None = None,
    tier_seconds: int | tuple = 900,
    arima_order=(1, 1, 0),
    t0=None,
    cadence_s: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    key: str = SERIES_KEY,
    blobs: bool = True,
) -> DataFrame:
    """Token arrays in → ONE row per (series, tier) out: the tier's cell
    vectors (``bucket_s``, ``cnt``, ``sum_val``, ``min_val``, ``max_val``,
    empty cells carrying NaN aggregates) and, with ``blobs``, the tier's
    compressed series blob (``n_tok``, ``blob``).

    This is the commit path's shape: the pipeline caches this small frame
    and writes every tier's cells (``explode_tier_cells``) and every tier's
    blob from it, so the kernel is the only Python stage of a partition.
    The blob is ``encode_series_blob(quantize(sum/cnt), bucket_s)`` —
    byte-identical to ``compression.encode_tier_df`` over the committed
    cells (tested), without its shuffle and second Arrow crossing."""
    from pyspark.sql.types import ArrayType, BinaryType, LongType

    from ..compression import encode_series_blob
    from ..datagen import VAL_HI, VAL_LO
    from ..quantize import quantize

    kw = _kernel_setup(params, tier_seconds, t0, cadence_s, lo, hi)
    fields = [
        StructField(key, tok_df.schema[key].dataType, False),
        StructField("tier", IntegerType(), False),
        StructField("bucket_s", ArrayType(LongType(), False), False),
        StructField("cnt", ArrayType(LongType(), False), False),
        StructField("sum_val", ArrayType(DoubleType(), False), False),
        StructField("min_val", ArrayType(DoubleType(), False), False),
        StructField("max_val", ArrayType(DoubleType(), False), False),
    ]
    if blobs:
        fields += [
            StructField("n_tok", IntegerType(), False),
            StructField("blob", BinaryType(), False),
        ]
    columns = [f.name for f in fields]

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf[key], pdf["tokens"]):
                for t, bucket, cnt, s, mn, mx in _token_series_tiers(
                    toks, arima_order=arima_order, **kw
                ):
                    row = (doc_id, t, bucket, cnt, s, mn, mx)
                    if blobs:
                        # encode_tier_df's tokens: the quantized avg_val
                        # (sum/cnt; NaN on empty cells → sentinel) under
                        # the data generator's fixed value range
                        with np.errstate(invalid="ignore", divide="ignore"):
                            avg = s / cnt
                        tok = quantize(avg, VAL_LO, VAL_HI)
                        row += (len(tok), encode_series_blob(tok, bucket))
                    rows.append(row)
            if rows:
                yield pd.DataFrame(rows, columns=columns)

    return tok_df.select(key, "tokens").mapInPandas(gen, schema=StructType(fields))


def explode_tier_cells(packed: DataFrame, key: str = SERIES_KEY) -> DataFrame:
    """(series, tier) cell vectors → one row per cell, JVM-side
    (``arrays_zip`` + ``posexplode``, inside codegen), with the
    ``fused_tokens_to_cells`` schema; NaN aggregates become NULL."""
    zipped = packed.select(
        key,
        "tier",
        F.posexplode(
            F.arrays_zip("bucket_s", "cnt", "sum_val", "min_val", "max_val")
        ).alias("__i", "c"),
    )
    nn = lambda c: F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c)  # noqa: E731
    s_val = nn(F.col("c.sum_val"))
    return zipped.select(
        key,
        F.timestamp_seconds(F.col("c.bucket_s")).alias("bucket_start"),
        F.col("c.cnt").alias("cnt"),
        s_val.alias("sum_val"),
        (s_val / F.col("c.cnt")).alias("avg_val"),
        nn(F.col("c.min_val")).alias("min_val"),
        nn(F.col("c.max_val")).alias("max_val"),
        "tier",
    )


def fused_tokens_to_cells(
    tok_df: DataFrame,
    params: SeriesParams | None = None,
    tier_seconds: int | tuple = 900,
    arima_order=(1, 1, 0),
    t0=None,
    cadence_s: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    key: str = SERIES_KEY,
    emit: str = "rows",
) -> DataFrame:
    """Token arrays in → FINISHED rollup cells out, one pass.

    ``emit="arrays"`` ships ONE row per (series, tier) out of the Python
    kernel (``fused_tokens_to_tiers`` without blobs) and explodes to cell
    rows JVM-side (``explode_tier_cells``). Output-identical to
    ``emit="rows"`` (tested). It is the shape the ``fused_cells`` pipeline
    commits from — there the packed frame also carries each tier's blob,
    which saves the per-tier blob shuffles and Python stages. For a bare
    cell read, rows stays the default: at 8M/local[32] the two emits
    measured 2.44s (rows) vs 2.48s (arrays).

    The bandwidth-optimal physical strategy for the token table: instead of
    exploding to (doc_id, pos, ts, value) rows (≈40 B/point through the
    repartition exchange) and re-aggregating after the kernel (another
    exchange), the int32 token arrays (4 B/point) flow straight into the
    per-series kernel, which dequantizes, runs QC→detect→correct, and
    reduces to (doc_id, bucket) cells via ``np.*.reduceat`` before anything
    crosses back. Each input row is a COMPLETE series (the token-table
    contract, `collapse_to_tokens`), so the emitted cells are final — no
    post-aggregation shuffle.

    ``tier_seconds`` may be one tier or a tuple of tiers: with a tuple the
    kernel emits EVERY tier's cells in the same pass (distinguished by the
    ``tier`` column) — the coarser-tier re-aggregation shuffles disappear
    entirely (select the tier by filter, a narrow op). Output matches
    ``rollup_points(fused_qc_correct(explode_tokens(tok)), t)`` per tier
    (cnt=0 cells carry NULL aggregates, like count/sum/min/max over an
    all-NULL bucket).
    """
    if emit == "arrays":
        return explode_tier_cells(
            fused_tokens_to_tiers(
                tok_df, params, tier_seconds, arima_order, t0, cadence_s,
                lo, hi, key, blobs=False,
            ),
            key,
        )

    from pyspark.sql.types import LongType, StringType, TimestampType

    kw = _kernel_setup(params, tier_seconds, t0, cadence_s, lo, hi)
    key_type = tok_df.schema[key].dataType
    schema = StructType(
        [
            StructField(key, key_type, False),
            StructField("bucket_start", TimestampType(), False),
            StructField("cnt", LongType(), False),
            StructField("sum_val", DoubleType(), True),
            StructField("avg_val", DoubleType(), True),
            StructField("min_val", DoubleType(), True),
            StructField("max_val", DoubleType(), True),
            StructField("tier", IntegerType(), False),
        ]
    )
    dict_key = isinstance(key_type, StringType)

    def gen(batches):
        for pdf in batches:
            keys, buckets, cnts, sums, mins, maxs, tcol = [], [], [], [], [], [], []
            cats, cat_ix = [], {}
            for doc_id, toks in zip(pdf[key], pdf["tokens"]):
                for t, bucket, cnt, s, mn, mx in _token_series_tiers(
                    toks, arima_order=arima_order, **kw
                ):
                    if dict_key:
                        # dictionary-encode the key: one int32 code per
                        # cell row + one dictionary entry per series —
                        # the Arrow crossing ships ~4 B/row instead of a
                        # per-row string (Spark decodes the categorical
                        # to plain strings; value-identical, tested)
                        ci = cat_ix.setdefault(doc_id, len(cat_ix))
                        if ci == len(cats):
                            cats.append(doc_id)
                        keys.append(np.full(len(bucket), ci, dtype=np.int32))
                    else:
                        keys.append(np.full(len(bucket), doc_id, dtype=object))
                    buckets.append(bucket)
                    cnts.append(cnt)
                    sums.append(s)
                    mins.append(mn)
                    maxs.append(mx)
                    tcol.append(np.full(len(bucket), t, dtype=np.int32))
            if not keys:
                continue
            cnt = np.concatenate(cnts)
            s = np.concatenate(sums)
            with np.errstate(invalid="ignore", divide="ignore"):
                avg = s / cnt
            key_col = np.concatenate(keys)
            if dict_key:
                key_col = pd.Categorical.from_codes(key_col, cats)
            yield pd.DataFrame(
                {
                    key: key_col,
                    "bucket_start": pd.to_datetime(np.concatenate(buckets), unit="s"),
                    "cnt": cnt,
                    "sum_val": s,
                    "avg_val": avg,
                    "min_val": np.concatenate(mins),
                    "max_val": np.concatenate(maxs),
                    "tier": np.concatenate(tcol),
                }
            )

    return tok_df.select(key, "tokens").mapInPandas(gen, schema=schema)


def fused_qc_correct(
    df: DataFrame,
    params: SeriesParams | None = None,
    arima_order=(1, 1, 0),
    value_col: str = "value",
    key: str = SERIES_KEY,
    order_col: str = ORDER_COL,
    ts_col: str = "ts",
) -> DataFrame:
    """One grouped-map pass per series over (doc_id, pos, ts, value)."""
    p = params or DEFAULT_PARAMS
    in_fields = [df.schema[c] for c in (key, order_col, ts_col, value_col)]
    schema = StructType(list(in_fields) + FUSED_SCHEMA_FIELDS)
    slim = df.select(key, order_col, ts_col, value_col)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        out = fused_series_kernel(
            pdf[value_col].to_numpy(dtype=float),
            pd.DatetimeIndex(pdf[ts_col]),
            p,
            arima_order,
        )
        for k, v in out.items():
            pdf[k] = v
        return pdf

    return slim.groupBy(key).applyInPandas(run, schema=schema)
