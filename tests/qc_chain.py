"""Reference chains the parity tests build from the operators that ship.

* ``jvm_detect`` — the detection half of pyhydroqc's workflow
  (`model_workflow.py:19-60`) as JVM operators over long rows:
  ``range_check → persistence → interpolate(10000) → arima_residuals_sql →
  dynamic_threshold → detect_threshold_anomalies → anomaly_events``.
* ``correct_on_driver`` — ``correct.correct_series`` per series of
  collected rows, the correction half.
* ``kernel_rows`` — ``fused.fused_series_kernel`` per series of the
  exploded token table, run on the driver, as a Spark frame the JVM
  rollups can aggregate.
"""

import pandas as pd
from pyspark.sql import functions as F

from pyhydroqc_spark.ingest import explode_tokens
from pyhydroqc_spark.operators import correct, fused
from pyhydroqc_spark.operators.detect import arima_residuals_sql
from pyhydroqc_spark.operators.events import anomaly_events
from pyhydroqc_spark.operators.rules import interpolate, persistence, range_check
from pyhydroqc_spark.operators.threshold import (
    detect_threshold_anomalies,
    dynamic_threshold,
)


def jvm_detect(df, p, value_col="value"):
    """Adds ``anomaly``, ``observed``, ``residual``, ``prediction``,
    ``low``/``high``, ``detected_anomaly``, ``all_anomalies`` and
    ``detected_event`` to (doc_id, pos, …, value) rows. Supports the
    q=0 orders ``arima_residuals_sql`` fits."""
    out = range_check(df, p.max_range, p.min_range, value_col)
    out = persistence(out, p.persist, value_col)
    out = interpolate(out, 10000, value_col)
    out = arima_residuals_sql(out, "observed", order=tuple(p.pdq))
    out = dynamic_threshold(
        out, "residual", window_sz=p.window_sz, alpha=p.alpha, min_range=p.threshold_min
    )
    out = detect_threshold_anomalies(out)
    out = out.withColumn("all_anomalies", F.col("detected_anomaly") | F.col("anomaly"))
    return anomaly_events(out, "all_anomalies", wf=p.widen, out_col="detected_event")


def _ns(ts: pd.Series):
    """A timestamp column as int64 ns, the kernels' time axis."""
    return ts.to_numpy("datetime64[ns]").view("i8")


def correct_on_driver(pdf: pd.DataFrame, arima_order=(1, 1, 0)) -> pd.DataFrame:
    """``det_cor``/``corrected`` per series of collected (doc_id, pos, ts,
    observed, detected_event) rows, sorted by (doc_id, pos)."""
    parts = []
    for _, g in pdf.sort_values(["doc_id", "pos"]).groupby("doc_id", sort=True):
        det_cor, corrected = correct.correct_series(
            g["observed"].to_numpy(dtype=float),
            g["detected_event"].to_numpy(),
            _ns(g["ts"]),
            order=arima_order,
        )
        parts.append(g.assign(det_cor=det_cor, corrected=corrected))
    return pd.concat(parts, ignore_index=True)


def kernel_frame(pdf: pd.DataFrame, p, arima_order=(1, 1, 0)) -> pd.DataFrame:
    """``fused_series_kernel``'s outputs per series of collected (doc_id,
    pos, ts, value) rows, sorted by (doc_id, pos)."""
    parts = []
    for _, g in pdf.sort_values(["doc_id", "pos"]).groupby("doc_id", sort=True):
        out = fused.fused_series_kernel(
            g["value"].to_numpy(dtype=float), _ns(g["ts"]), p, arima_order
        )
        parts.append(g.assign(**out))
    return pd.concat(parts, ignore_index=True)


def kernel_rows(spark, tok, p, arima_order=(1, 1, 0)):
    """(doc_id, pos, ts, det_cor) rows of the exploded token table after
    the fused kernel, for ``rollup_points``."""
    pdf = explode_tokens(tok).select("doc_id", "pos", "ts", "value").toPandas()
    out = kernel_frame(pdf, p, arima_order)
    return spark.createDataFrame(
        out[["doc_id", "pos", "ts", "det_cor"]],
        "doc_id string, pos int, ts timestamp, det_cor double",
    )
