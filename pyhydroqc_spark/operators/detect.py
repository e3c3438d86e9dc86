"""ARIMA residuals as Spark operators, for the query surface.

The pipeline fits each series' ARIMA inside the fused kernel
(`fused.fused_series_kernel`); these operators serve the queries that
need residuals on long (doc_id, pos, value) rows:

* ``arima_residuals_sql`` — AR(p)/ARI(p,d) with q=0, fit JVM-side from
  lag-product moment sums; only one coefficient row per series crosses
  into Python.
* ``arima_residuals_fixed`` — a fixed (c, phi, theta, d) model fit
  offline, applied per series in one grouped-map pass (any q).

Both add ``residual`` and ``prediction`` columns; the dynamic threshold,
the residual test and event widening that follow are the `threshold` and
`events` operators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from . import arima as arima_mod
from .events import SERIES_KEY, ORDER_COL


def arima_residuals_fixed(
    df: DataFrame,
    value_col: str = "observed",
    model=None,
    key: str = SERIES_KEY,
    order_col: str = ORDER_COL,
    resid_col: str = "residual",
    pred_col: str = "prediction",
) -> DataFrame:
    """Per-series residuals/predictions for a FIXED ARIMA model
    ``model = (c, phi, theta, d)`` — the q>0 ψ-filter innovation path with
    coefficients supplied instead of fit. This is how tuned site parameters
    are applied at scale (the reference's per-sensor configs fix q=1,
    `parameters.py:70-272`): the fit happened once offline, the cluster job
    only applies it, so the math is replayable coefficient-exact by any SQL
    engine (e_t = Σ_j (−θ)^j z_{t−j}, geometric truncation).

    ``model`` is REQUIRED: applying arbitrary default coefficients would
    silently produce residuals from a model nobody fit."""
    if model is None:
        raise ValueError(
            "arima_residuals_fixed requires model=(c, phi, theta, d) — "
            "fixed coefficients must come from an offline fit, not a default"
        )
    c, phi, theta, d = model
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField(resid_col, DoubleType(), True),
            StructField(pred_col, DoubleType(), True),
        ]
    )

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype=float)
        resid, pred = arima_mod.apply_arima(x, c, np.asarray(phi), np.asarray(theta), d)
        pdf[resid_col] = resid
        pdf[pred_col] = pred
        return pdf

    # pin the grouped-map parallelism: the shuffled rows are tiny by BYTES
    # (AQE would coalesce the kernel stage to one task) while the per-series
    # work is CPU-heavy — the repo-wide AQE-coalescing-trap treatment
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key).groupBy(key).applyInPandas(apply_fn, schema=out_schema)


def arima_residuals_sql(
    df: DataFrame,
    value_col: str = "observed",
    order=(1, 1, 0),
    key: str = SERIES_KEY,
    order_col: str = ORDER_COL,
    resid_col: str = "residual",
    pred_col: str = "prediction",
) -> DataFrame:
    """AR(p) / ARI(p,d) residuals computed almost entirely JVM-side.

    For q=0 the Hannan–Rissanen fit degenerates to per-series least squares,
    whose normal equations are just sums of lag products — a groupBy
    aggregation. Only the (p+1)-vector of coefficients per series crosses
    the Python boundary (a mapInPandas solve over one row per series);
    predictions/residuals are then pure column expressions. Numerically
    identical (≤1e-8, tested) to ``arima.fit_arima`` run per series; the
    fact rows never leave the JVM.

    The lagged plan is consumed twice (moment sums, then the fact-side
    join) and is recomputed, not persisted: at cluster scale persisting the
    whole fact table costs more (memory pressure + spill + eviction of
    hotter caches) than replaying a columnar scan + window, and the second
    consumer reuses the same shuffle output anyway where one exists.
    """
    p, d, q = order
    if q != 0 or d > 2:
        raise ValueError(
            "SQL path supports q=0, d<=2; for q>0 apply an offline fit "
            "with arima_residuals_fixed"
        )

    w = Window.partitionBy(key).orderBy(order_col)
    x = F.col(value_col)
    # d-fold difference
    y = x
    for _ in range(d):
        y = y - F.lag(y).over(w)
    tmp = df.withColumn("__y", y)
    for j in range(1, p + 1):
        tmp = tmp.withColumn(f"__yl{j}", F.lag("__y", j).over(w))

    intercept = d == 0
    # regression rows: all lags present (t >= d + p in original indexing)
    cond = F.lit(True)
    for j in range(0, p + 1):
        c = F.col("__y") if j == 0 else F.col(f"__yl{j}")
        cond = cond & c.isNotNull()
    terms = ["__y"] + [f"__yl{j}" for j in range(1, p + 1)]
    aggs = [F.count(F.when(cond, 1)).alias("n")]
    for i, a in enumerate(terms):
        aggs.append(F.sum(F.when(cond, F.col(a))).alias(f"s_{i}"))
        for jj, b in enumerate(terms[i:], start=i):
            aggs.append(
                F.sum(F.when(cond, F.col(a) * F.col(b))).alias(f"s_{i}_{jj}")
            )
    moments = tmp.groupBy(key).agg(*aggs)

    key_type = df.schema[key].dataType
    coef_schema = StructType(
        [
            StructField(key, key_type, False),
            StructField("__coef", ArrayType(DoubleType(), False), False),
        ]
    )

    def solve(batches):
        for pdf in batches:
            out_keys, out_coefs = [], []
            for _, r in pdf.iterrows():
                n = r["n"]
                # build X'X / X'y from the moment sums; term 0 is y itself
                k = p + (1 if intercept else 0)
                XtX = np.zeros((k, k))
                Xty = np.zeros(k)
                def s(i, j):
                    i, j = min(i, j), max(i, j)
                    return r[f"s_{i}_{j}"]
                off = 0
                if intercept:
                    XtX[0, 0] = n
                    for j in range(1, p + 1):
                        XtX[0, j] = XtX[j, 0] = r[f"s_{j}"]
                    Xty[0] = r["s_0"]
                    off = 1
                for i in range(1, p + 1):
                    for j in range(i, p + 1):
                        XtX[off + i - 1, off + j - 1] = XtX[off + j - 1, off + i - 1] = s(i, j)
                    Xty[off + i - 1] = s(0, i)
                try:
                    if not (np.isfinite(XtX).all() and np.isfinite(Xty).all()):
                        raise ValueError("non-finite moments")
                    beta = np.linalg.lstsq(XtX, Xty, rcond=None)[0]
                except Exception:
                    beta = np.zeros(k)
                c0 = float(beta[0]) if intercept else 0.0
                phi = beta[off:].astype(float)
                if p and np.sum(np.abs(phi)) > 0.99 and np.any(
                    np.abs(np.roots(np.r_[1, -phi])) >= 1
                ):
                    phi = phi * 0.98 / max(np.sum(np.abs(phi)), 1e-9)
                out_keys.append(r[key])
                out_coefs.append([c0] + phi.tolist())
            yield pd.DataFrame({key: out_keys, "__coef": out_coefs})

    coefs = moments.mapInPandas(solve, schema=coef_schema)

    # one tiny row per series — always broadcast; never let the planner
    # shuffle the fact side for this join
    joined = tmp.join(F.broadcast(coefs), on=key)
    yhat = F.element_at("__coef", 1)
    for j in range(1, p + 1):
        yhat = yhat + F.element_at("__coef", j + 1) * F.coalesce(
            F.col(f"__yl{j}"), F.lit(0.0)
        )
    # rebuild the level prediction from observed lags (fit_arima semantics)
    rn = F.row_number().over(w)
    if d == 0:
        pred = yhat
    elif d == 1:
        pred = F.lag(x, 1).over(w) + yhat
    else:
        pred = 2 * F.lag(x, 1).over(w) - F.lag(x, 2).over(w) + yhat
    warm = max(d, 1)
    pred = F.when(rn <= warm, x).otherwise(pred)
    resid = F.when(rn <= 1, F.lit(0.0)).otherwise(x - pred)
    out = joined.withColumn(pred_col, pred).withColumn(resid_col, resid)
    drop = ["__y", "__coef"] + [f"__yl{j}" for j in range(1, p + 1)]
    return out.drop(*drop)
