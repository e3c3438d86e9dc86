"""The correction loop vs a plain numpy spec of SURVEY M6/M8 and the
xfade blend (§2.7), both forecasting with the engine's fixed-order
``arima.forecast_arima``, and the all-anomalous termination."""

import numpy as np
import pytest

from pyhydroqc_spark.operators import correct
from pyhydroqc_spark.operators.arima import forecast_arima

ORDER = (1, 1, 0)
DAY_NS = 86_400 * 10**9


def _ts(n):
    """15-minute timestamps as int64 ns."""
    return np.arange(n, dtype=np.int64) * 900 * 10**9


def _runs(mask):
    """group_bools: a new group id at every change of the mask."""
    g = np.zeros(len(mask), dtype=int)
    for k in range(1, len(mask)):
        g[k] = g[k - 1] + (mask[k] != mask[k - 1])
    return g


def _correct_np(x, ev, ts, min_group_len=20, model_limit_days=6):
    """SURVEY M6 then M8 (`arima_correct.py:13-188`).

    M6: a valid run shorter than ``min_group_len`` joins the anomalous
    runs around it. M8: while anomalous runs remain, take the shortest;
    forecast it from the valid run before it (its last
    ``model_limit_days``), backcast it from the valid run after it (its
    first ``model_limit_days``, reversed), and blend the two with the
    xfade weights w_i = (i+1)/(n+1): flip(w)·forecast + w·backcast. A run
    at a series edge takes its one cast; a series with no valid run is
    left as observed. The corrected run then counts as valid, so it
    joins its neighbours in the input windows of later casts, at its
    observed values. Returns (det_cor, corrected, the length of each run
    in the order it was corrected)."""
    x = np.asarray(x, dtype=float)
    pending = np.asarray(ev) != 0
    raw = _runs(pending)
    for gid in range(raw.max() + 1):
        run = raw == gid
        if not pending[run][0] and run.sum() < min_group_len:
            pending[run] = True
    det, corrected, order = x.copy(), pending.copy(), []
    limit = model_limit_days * DAY_NS
    while pending.any():
        g = _runs(pending)
        ids = sorted(set(g[pending]))
        lens = [int((g == k).sum()) for k in ids]
        i, n = ids[lens.index(min(lens))], min(lens)
        order.append(n)
        run = g == i
        yfor = ybac = None
        if i > 0:
            before = g == i - 1
            keep = before & (ts >= ts[before][-1] - limit)
            yfor = forecast_arima(x[keep], n, order=ORDER)
        if i < g.max():
            after = g == i + 1
            keep = after & (ts <= ts[after][0] + limit)
            ybac = forecast_arima(x[keep][::-1], n, order=ORDER)[::-1]
        if yfor is not None and ybac is not None:
            w = np.array([(k + 1) / (n + 1) for k in range(n)])
            det[run] = w[::-1] * yfor + w * ybac
        elif yfor is not None:
            det[run] = yfor
        elif ybac is not None:
            det[run] = ybac
        else:
            corrected[run] = False
        pending[run] = False
    return det, corrected, order


def _check(x, ev):
    """The engine equals the spec, and the spec's runs have distinct
    lengths, so the shortest-first order needs no tie rule."""
    ts = _ts(len(x))
    det, cor = correct.correct_series(x, ev, ts, order=ORDER)
    want_det, want_cor, lens = _correct_np(x, ev, ts)
    assert len(set(lens)) == len(lens), lens
    np.testing.assert_allclose(det, want_det, rtol=0, atol=1e-9)
    assert cor.tolist() == want_cor.tolist()
    return det, cor, lens


@pytest.mark.parametrize("seed", [0, 1])
def test_correct_series_matches_numpy_spec(seed):
    """Three events of 10, 40 and 5 points between long valid runs; each
    is blended from both sides, the 5-point one first."""
    n = 800
    rng = np.random.default_rng(seed)
    x = 10 + np.sin(np.arange(n) / 20) * 3 + rng.normal(0, 0.2, n)
    ev = np.zeros(n, dtype=int)
    ev[100:110] = 1
    ev[300:340] = 2
    ev[600:605] = 3
    det, cor, lens = _check(x, ev)
    assert lens == [5, 10, 40]
    assert cor.sum() == 55 and np.array_equal(det[~cor], x[~cor])


@pytest.mark.parametrize("valid_len", [8, 19])
def test_short_valid_group_is_merged(valid_len):
    """A valid run shorter than min_group_len=20 between two events is
    corrected with them, as one run."""
    n = 300
    rng = np.random.default_rng(4)
    x = 5 + rng.normal(0, 0.1, n)
    ev = np.zeros(n, dtype=int)
    ev[100:120] = 1
    ev[120 + valid_len : 150 + valid_len] = 2
    _, cor, lens = _check(x, ev)
    assert lens == [50 + valid_len]
    assert cor[120 : 120 + valid_len].all()


def test_events_at_both_edges():
    """An event at the series start takes the backcast only, one at the
    end the forecast only."""
    n = 400
    rng = np.random.default_rng(8)
    x = 3 + np.cos(np.arange(n) / 30) + rng.normal(0, 0.15, n)
    ev = np.zeros(n, dtype=int)
    ev[:25] = 1
    ev[-30:] = 2
    _, _, lens = _check(x, ev)
    assert lens == [25, 30]


def test_all_anomalous_terminates():
    n = 50
    x = np.ones(n)
    ev = np.ones(n, dtype=int)
    det, cor = correct.correct_series(x, ev, _ts(n), order=(1, 0, 0))
    np.testing.assert_array_equal(det, x)  # left uncorrected, no hang
    assert not cor.any()
