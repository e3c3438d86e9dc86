"""Windowed-regression residuals — the engine's stand-in for the
reference's LSTM detectors (surface parity, documented semantic deviation).

The reference trains keras LSTMs over sliding windows and flags large
one-step residuals (`pyhydroqc/modeling_utilities.py:125-536`, workflows
`model_workflow.py:97-189` univar / `:192-317` multivar). Keras/tensorflow
are absent from this runtime, so the engine keeps the windowing — one-step
predictions from ``time_steps`` neighbours — and swaps the model for one
deterministic linear autoregressor (no bias term) fit by least squares
on the normal equations in numpy
(per series, inside one grouped-map Arrow UDF; the series axis is the
parallel one, the same physical shape as the ARIMA path). The residuals
feed the same chain the ARIMA residuals do: ``threshold.dynamic_threshold``
then ``threshold.detect_threshold_anomalies``.

Window conventions mirror the reference exactly:

* ``vanilla``: predict x_t from [x_{t-ts} … x_{t-1}]; the first ``ts`` rows
  of each series carry no prediction (reference drops ``df[ts:]``,
  `model_workflow.py:125,137`).
* ``bidir``:  predict x_t from [x_{t-ts} … x_{t-1}, x_{t+1} … x_{t+ts}];
  both edges carry no prediction (reference drops ``df[ts:-ts]``,
  `model_workflow.py:127,139`).

Multivar (`model_workflow.py:192-317`): every sensor of a site contributes
its window to the feature block and each sensor gets its own regression
head — the linear analogue of the reference's n-output LSTM. It runs
the vanilla window only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from .events import ORDER_COL, SERIES_KEY


def _fit_predict(x: np.ndarray, time_steps: int, mode: str) -> np.ndarray:
    """One series → one-step predictions (NaN on the undefined edges)."""
    n = len(x)
    ts = time_steps
    pred = np.full(n, np.nan)
    lo, hi = (ts, n) if mode == "vanilla" else (ts, n - ts)
    # a fully-missing series survives interpolation as all-NaN: no model
    # (LAPACK raises on non-finite inputs — one bad series must not kill
    # the job at 10^12-series scale)
    if hi - lo < ts + 2 or not np.isfinite(x).all():
        return pred
    cols = [x[lo - j - 1 : hi - j - 1] for j in range(ts)]  # x_{t-1}..x_{t-ts}
    if mode == "bidir":
        cols += [x[lo + j + 1 : hi + j + 1] for j in range(ts)]  # x_{t+1}..x_{t+ts}
    X = np.column_stack(cols)
    t = x[lo:hi]
    try:
        beta = np.linalg.lstsq(X.T @ X, X.T @ t, rcond=None)[0]
    except np.linalg.LinAlgError:
        return pred
    pred[lo:hi] = X @ beta
    return pred


def windowed_regression_residuals(
    df: DataFrame,
    value_col: str = "observed",
    time_steps: int = 10,
    mode: str = "vanilla",
    key: str = SERIES_KEY,
    order_col: str = ORDER_COL,
    resid_col: str = "residual",
    pred_col: str = "prediction",
) -> DataFrame:
    """Per-series windowed one-step predictions + residuals.

    Rows outside the modeled region (the reference's dropped edges) get
    NULL residual/prediction — downstream thresholding skips NULLs, which
    matches the reference operating on the trimmed frame."""
    if mode not in ("vanilla", "bidir"):
        raise ValueError(f"mode must be vanilla|bidir, got {mode!r}")
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField(resid_col, DoubleType(), True),
            StructField(pred_col, DoubleType(), True),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype=float)
        valid = ~np.isnan(x)
        if not valid.all() and valid.any():
            x = np.where(
                valid, x,
                np.interp(np.arange(len(x)), np.flatnonzero(valid), x[valid]),
            )
        pred = _fit_predict(x, time_steps, mode)
        pdf[pred_col] = pred
        pdf[resid_col] = pdf[value_col].to_numpy(dtype=float) - pred
        return pdf

    return df.groupBy(key).applyInPandas(kernel, schema=out_schema)


def multivar_regression_residuals(
    df: DataFrame,
    value_col: str = "observed",
    time_steps: int = 10,
    site_col: str = "source",
    sensor_col: str = "sensor",
    order_col: str = ORDER_COL,
) -> DataFrame:
    """Per-site multivariate windowed residuals: all of a site's sensors
    feed one feature block; each sensor gets its own regression head over
    that block (the linear analogue of the reference's n-output LSTM,
    `modeling_utilities.py:354-536`). Input: long rows keyed by
    (site, sensor, pos); the site is the grouping axis — one grouped-map
    Arrow UDF per site, sensors pivoted wide inside the kernel."""
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("residual", DoubleType(), True),
            StructField("prediction", DoubleType(), True),
        ]
    )
    ts = time_steps

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([sensor_col, order_col]).reset_index(drop=True)
        # pivot (not pivot_table): an all-NaN sensor column must survive so
        # its rows still get (NaN) predictions instead of a KeyError
        wide = pdf.pivot(
            index=order_col, columns=sensor_col, values=value_col
        ).sort_index()
        sensors = list(wide.columns)
        M = wide.to_numpy(dtype=float)
        for j in range(M.shape[1]):
            col = M[:, j]
            valid = ~np.isnan(col)
            if not valid.all() and valid.any():
                M[:, j] = np.interp(np.arange(len(col)), np.flatnonzero(valid), col[valid])
        n = M.shape[0]
        lo, hi = ts, n
        preds = {s: np.full(n, np.nan) for s in sensors}
        # all-missing sensors survive interpolation as all-NaN: exclude
        # them from the feature block and leave their predictions NaN
        finite = [j for j in range(M.shape[1]) if np.isfinite(M[:, j]).all()]
        if finite and hi - lo >= ts * len(finite) + 2:
            Mf = M[:, finite]
            X = np.column_stack([Mf[lo - j - 1 : hi - j - 1, :] for j in range(ts)])
            XtX = X.T @ X
            for sj in finite:
                s = sensors[sj]
                t = M[lo:hi, sj]
                try:
                    beta = np.linalg.lstsq(XtX, X.T @ t, rcond=None)[0]
                except np.linalg.LinAlgError:
                    continue
                preds[s][lo:hi] = X @ beta
        pos_ix = {v: i for i, v in enumerate(wide.index)}
        pr = np.array(
            [preds[s][pos_ix[o]] for s, o in zip(pdf[sensor_col], pdf[order_col])]
        )
        pdf["prediction"] = pr
        pdf["residual"] = pdf[value_col].to_numpy(dtype=float) - pr
        return pdf

    return df.groupBy(site_col).applyInPandas(kernel, schema=out_schema)
