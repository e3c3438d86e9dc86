"""Windowed-regression residuals (the LSTM-workflow stand-in,
`model_workflow.py:97-189` univar / `:192-317` multivar shapes), scored
by the chain the driver queries use: residuals → ``dynamic_threshold`` →
``detect_threshold_anomalies``."""

import numpy as np
import pandas as pd
import pytest

from pyhydroqc_spark.operators import threshold
from pyhydroqc_spark.operators import windowed_detect as wd


def _detect(resid_df):
    """Threshold the residuals (window 40, alpha 1e-4, floor 0.5); edge
    rows have no residual and are never flagged."""
    out = threshold.dynamic_threshold(
        resid_df, "residual", window_sz=40, alpha=0.0001, min_range=0.5
    )
    return threshold.detect_threshold_anomalies(out, "residual")


def _series_with_spikes(n=400, spikes=(120, 260), seed=5):
    rng = np.random.default_rng(seed)
    x = np.sin(np.arange(n) / 12.0) * 3 + rng.normal(0, 0.05, n)
    for s in spikes:
        x[s] += 8.0
    return x


@pytest.fixture(scope="module")
def spiky(spark):
    x = _series_with_spikes()
    pdf = pd.DataFrame(
        {"doc_id": "a", "pos": np.arange(len(x)), "value": x}
    )
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["pos"] * 900, "s")
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize("mode", ["vanilla", "bidir"])
def test_edge_rows_carry_no_prediction(spark, spiky, mode):
    out = (
        wd.windowed_regression_residuals(
            spiky.withColumnRenamed("value", "observed"), time_steps=10, mode=mode
        )
        .orderBy("pos")
        .toPandas()
    )
    n = len(out)
    assert out["prediction"].iloc[:10].isna().all()  # df[ts:] trim
    if mode == "bidir":
        assert out["prediction"].iloc[n - 10 :].isna().all()  # df[ts:-ts] trim
        assert out["prediction"].iloc[10 : n - 10].notna().all()
    else:
        assert out["prediction"].iloc[10:].notna().all()


@pytest.mark.parametrize("mode", ["vanilla", "bidir"])
def test_univar_flags_spikes_only(spark, spiky, mode):
    resid = wd.windowed_regression_residuals(
        spiky.withColumnRenamed("value", "observed"), time_steps=10, mode=mode
    )
    out = _detect(resid).orderBy("pos").toPandas()
    flagged = set(out.loc[out["detected_anomaly"], "pos"])
    for s in (120, 260):
        assert s in flagged, (mode, sorted(flagged))
    # rows without a prediction are never flagged
    assert not out.loc[out["residual"].isna(), "detected_anomaly"].any()
    # the quiet stretch stays clean
    assert not any(40 <= p <= 100 for p in flagged)


def test_regressor_tracks_ar_process(spark):
    """On a pure AR(1) process the windowed regressor's residuals must
    approach the true innovations (same closeness bar as the ARIMA golden
    tests) — the detector is a real model, not a smoother."""
    rng = np.random.default_rng(99)
    n, phi = 600, 0.7
    eps = rng.normal(0, 1.0, n)
    x = np.zeros(n)
    for t in range(1, n):
        x[t] = phi * x[t - 1] + eps[t]
    pdf = pd.DataFrame({"doc_id": "a", "pos": np.arange(n), "observed": x})
    out = (
        wd.windowed_regression_residuals(spark.createDataFrame(pdf), time_steps=5)
        .orderBy("pos")
        .toPandas()
    )
    resid = out["residual"].to_numpy()[5:]
    rms_err = float(np.sqrt(np.mean((resid - eps[5:]) ** 2)))
    assert rms_err < 0.2


def test_multivar_uses_sibling_sensors(spark):
    """Two strongly-coupled sensors: a spike in sensor B that matches B's
    own noise scale is still caught because A's window predicts B."""
    rng = np.random.default_rng(3)
    n = 400
    base = np.cumsum(rng.normal(0, 1.0, n))
    a = base + rng.normal(0, 0.02, n)
    b = base + rng.normal(0, 0.02, n)
    b[200] += 4.0  # large vs the 0.02 coupling noise, small vs base's walk
    rows = []
    for s, arr in (("A", a), ("B", b)):
        for i, v in enumerate(arr):
            rows.append(("site:" + s, "site", s, i, float(v)))
    df = spark.createDataFrame(
        rows, "doc_id string, source string, sensor string, pos long, observed double"
    )
    out = _detect(wd.multivar_regression_residuals(df, time_steps=4)).toPandas()
    hit = out[(out["sensor"] == "B") & (out["pos"] == 200)]
    assert bool(hit["detected_anomaly"].iloc[0])
    quiet = out[(out["sensor"] == "B") & out["pos"].between(40, 150)]
    assert quiet["detected_anomaly"].sum() <= 2


def test_mode_is_validated(spark, spiky):
    """The univariate residual function rejects an unknown mode up front:
    past the check, a typo such as "bidr" would trim the bidir edge but
    add no lead features, a mis-trimmed vanilla model."""
    df = spiky.withColumnRenamed("value", "observed")
    with pytest.raises(ValueError, match="mode"):
        wd.windowed_regression_residuals(df, mode="bidr")
