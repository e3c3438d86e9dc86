"""Engine ARIMA sanity (no statsmodels in the image — the model is ours;
tests assert statistical properties, determinism, and pipeline behavior)."""

import numpy as np
import pandas as pd
import pytest

from pyhydroqc_spark.operators import arima, detect


def _ar1(n, phi=0.7, sigma=1.0, seed=5, const=0.0):
    rng = np.random.default_rng(seed)
    eps = rng.normal(0, sigma, n)
    x = np.zeros(n)
    for i in range(1, n):
        x[i] = const + phi * x[i - 1] + eps[i]
    return x, eps


def test_fit_arma_recovers_ar1():
    x, _ = _ar1(4000, phi=0.7)
    c, phi, theta = arima.fit_arma(x, 1, 0)
    assert abs(phi[0] - 0.7) < 0.05
    assert abs(c) < 0.1


def test_residuals_whiten_ar1():
    x, eps = _ar1(3000, phi=0.8)
    resid, pred, _ = arima.fit_arima(x, 1, 0, 0)
    # residuals should match the true innovations closely after warmup
    assert np.corrcoef(resid[10:], eps[10:])[0, 1] > 0.99
    assert abs(resid[0]) == 0.0 and pred[0] == x[0]


def test_arima_d1_prediction_tracks_level():
    rng = np.random.default_rng(9)
    x = np.cumsum(rng.normal(0.1, 1.0, 2000))  # random walk with drift
    resid, pred, _ = arima.fit_arima(x, 1, 1, 1)
    assert np.mean(np.abs(resid[5:])) < 3.0
    assert np.max(np.abs(pred[5:] - x[5:])) < 15.0


def test_forecast_deterministic_and_sane():
    x, _ = _ar1(500, phi=0.6, const=2.0)
    f1 = arima.forecast_arima(x, 20, order=(1, 0, 0))
    f2 = arima.forecast_arima(x, 20, order=(1, 0, 0))
    np.testing.assert_array_equal(f1, f2)
    # AR(1) forecast decays toward the unconditional mean ~ c/(1-phi)=5
    assert abs(f1[-1] - 5.0) < 2.5


def test_auto_order_picks_differencing():
    rng = np.random.default_rng(1)
    rw = np.cumsum(rng.normal(0, 1, 1000))
    p, d, q = arima.auto_order(rw)
    assert d >= 1
    stat, _ = _ar1(1000, phi=0.5)
    _, d2, _ = arima.auto_order(stat)
    assert d2 == 0


def test_arima_detect_flags_spikes_without_rules():
    """pyhydroqc's detection workflow on the fused kernel: with the default
    (unbounded) range and persistence the rules flag nothing, so the
    residual threshold alone finds the two spikes."""
    from pyhydroqc_spark.operators import fused
    from pyhydroqc_spark.params import SeriesParams

    x, _ = _ar1(600, phi=0.7, sigma=0.3)
    x[100] += 8.0
    x[400] -= 8.0
    got = fused.fused_series_kernel(
        x,
        np.arange(len(x), dtype=np.int64) * 900 * 10**9,  # 15-min steps, ns
        SeriesParams(window_sz=40, alpha=0.0001, threshold_min=0.1, pdq=(1, 0, 0), widen=1),
    )
    assert not got["anomaly"].any()
    np.testing.assert_array_equal(got["observed"], x)
    assert got["detected_anomaly"][100] and got["detected_anomaly"][400]
    # events are widened ±1 around each spike and enumerated
    assert got["detected_event"][99] > 0 and got["detected_event"][101] > 0
    assert got["detected_event"].max() == 2
    # false-positive rate stays low
    assert got["detected_anomaly"].sum() <= 10


@pytest.mark.parametrize("order", [(1, 1, 0), (2, 0, 0), (3, 1, 0), (1, 2, 0)])
def test_sql_residuals_match_udf_path(spark, order):
    """``arima_residuals_sql``'s JVM-side fit equals ``arima.fit_arima`` run
    per series, the kernel's fit."""
    rng = np.random.default_rng(17)
    rows = []
    want = {}
    for d in ["a", "b", "c"]:
        x = np.cumsum(rng.normal(0.05, 1.0, 400)) + 10
        want[d] = arima.fit_arima(x, *order)[:2]
        for i, v in enumerate(x):
            ts = (pd.Timestamp("2022-01-01") + pd.Timedelta(minutes=15 * i)).to_pydatetime()
            rows.append((d, i, ts, float(v)))
    df = spark.createDataFrame(rows, "doc_id string, pos int, ts timestamp, observed double")
    got = (
        detect.arima_residuals_sql(df, "observed", order=order)
        .orderBy("doc_id", "pos")
        .select("doc_id", "residual", "prediction")
        .toPandas()
    )
    for d, (resid, pred) in want.items():
        g = got[got["doc_id"] == d]
        np.testing.assert_allclose(g["residual"], resid, atol=1e-8, err_msg=d)
        np.testing.assert_allclose(g["prediction"], pred, atol=1e-8, err_msg=d)


def test_arima_residuals_fixed_requires_model():
    """No magic default coefficients: omitting ``model`` must raise, not
    silently apply an arbitrary ARMA(1,1)."""
    import pytest

    from pyhydroqc_spark.operators import detect

    with pytest.raises(ValueError, match="requires model"):
        detect.arima_residuals_fixed(None, "observed")


def test_forecast_ar_fast_path_matches_general_recursion():
    """The r7 q=0 fast path (no innovation pass, truncated history) must
    be BIT-identical to the general ARMA recursion it bypasses."""
    rng = np.random.default_rng(23)
    for trial in range(100):
        n = int(rng.integers(8, 250))
        x = np.cumsum(rng.normal(size=n)) + rng.normal() * 5
        l = int(rng.integers(1, 30))
        for order in [(1, 1, 0), (2, 1, 0), (3, 0, 0), (0, 1, 0), (2, 2, 0)]:
            p, d, q = order
            fast = arima.forecast_arima(x, l, order=order)
            # general path, inlined (the pre-r7 formulation)
            y = arima._diff(x, d)
            c, phi, theta = arima.fit_arma(y, p, q, intercept=(d == 0))
            _, e = arima.arma_one_step(y, c, phi, theta)
            hist_y, hist_e, out_y = list(y), list(e), []
            for _ in range(l):
                acc = c
                for j in range(len(phi)):
                    acc += phi[j] * hist_y[-j - 1] if len(hist_y) > j else 0.0
                for j in range(len(theta)):
                    acc += theta[j] * hist_e[-j - 1] if len(hist_e) > j else 0.0
                out_y.append(acc)
                hist_y.append(acc)
                hist_e.append(0.0)
            out_y = np.asarray(out_y)
            if d == 0:
                exp = out_y
            elif d == 1:
                exp = x[-1] + np.cumsum(out_y)
            else:
                lvl = [x[-2], x[-1]]
                for v in out_y:
                    lvl.append(v + 2 * lvl[-1] - lvl[-2])
                exp = np.asarray(lvl[2:])
            assert np.array_equal(fast, exp), (trial, order)


def test_fit_arma_normal_equations_close_to_lstsq():
    """The r7 AR-only normal-equations solve must agree with the SVD
    lstsq to tight tolerance on well-conditioned series, and survive a
    constant series (exact singularity falls back to lstsq)."""
    rng = np.random.default_rng(29)
    for _ in range(50):
        n = int(rng.integers(30, 400))
        # stationary AR(1): keeps the estimate inside the unit disk so
        # the shrinkage guard (applied after either solver) stays inert
        e = rng.normal(size=n)
        x = np.empty(n)
        x[0] = e[0]
        for t in range(1, n):
            x[t] = 0.6 * x[t - 1] + e[t]
        for p in (1, 2, 3):
            c, phi, _ = arima.fit_arma(x, p, 0, intercept=True)
            X = np.column_stack(
                [np.ones(n - p), arima._lagmat(x, p)[:, :p]]
            )
            beta, *_ = np.linalg.lstsq(X, x[p:], rcond=None)
            np.testing.assert_allclose(
                np.r_[c, phi], beta, rtol=1e-8, atol=1e-10
            )
    # constant series: XtX singular -> lstsq fallback, no raise
    c, phi, _ = arima.fit_arma(np.full(50, 3.0), 1, 0, intercept=True)
    assert np.isfinite(c) and np.isfinite(phi).all()
