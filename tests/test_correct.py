"""Parity: correction loop vs the genuine reference generate_corrections,
with pmdarima patched to the engine's own forecaster on BOTH sides so the
loop logic (grouping, widening, ordering, renumbering, crossfade) is
compared like-for-like. The parity tests skip without the reference
checkout; the termination test runs without it."""

import warnings

import numpy as np
import pandas as pd
import pytest

from pyhydroqc_spark.operators import correct
from pyhydroqc_spark.operators.arima import forecast_arima
from tests.reference_oracle import load_reference


@pytest.fixture(scope="module")
def REF():
    """The pyhydroqc reference modules. Only the parity tests use them;
    they skip when the checkout is not importable."""
    try:
        return load_reference()
    except ImportError as e:
        pytest.skip(f"pyhydroqc reference checkout not importable: {e}")


class _PatchedModel:
    def __init__(self, x):
        self.x = np.asarray(x, dtype=float)

    def predict(self, l):
        return forecast_arima(self.x, l, order=(1, 1, 0))


@pytest.fixture
def ref_patched(REF, monkeypatch):
    """The reference with its pmdarima forecaster swapped for the engine's
    fixed-order one, and pandas' positional-axis drop restored."""
    import sys

    monkeypatch.setattr(
        sys.modules["pmdarima"], "auto_arima", lambda x, **k: _PatchedModel(x), raising=False
    )
    # pandas 2.x removed positional-axis drop; the reference calls drop(col, 1)
    orig_drop = pd.DataFrame.drop

    def drop_compat(self, labels=None, axis=0, **kw):
        if axis == 1 and isinstance(labels, str):
            return orig_drop(self, columns=labels, **kw)
        return orig_drop(self, labels, axis=axis, **kw)

    monkeypatch.setattr(pd.DataFrame, "drop", drop_compat)
    return REF


def _series_with_events(seed=0, n=800):
    rng = np.random.default_rng(seed)
    x = 10 + np.sin(np.arange(n) / 20) * 3 + rng.normal(0, 0.2, n)
    ev = np.zeros(n, dtype=int)
    # three detected events of varying length, separated by long valid runs
    ev[100:110] = 1
    ev[300:340] = 2
    ev[600:605] = 3
    idx = pd.date_range("2022-01-01", periods=n, freq="15min")
    return pd.DataFrame({"observed": x, "detected_event": ev}, index=idx)


@pytest.mark.parametrize("seed", [0, 1])
def test_correct_series_parity(ref_patched, seed):
    rdf = _series_with_events(seed)
    mine_det, mine_cor = correct.correct_series(
        rdf["observed"].to_numpy(),
        rdf["detected_event"].to_numpy(),
        rdf.index,
        order=(1, 1, 0),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref = ref_patched["arima_correct"].generate_corrections(
            rdf.copy(), "observed", "detected_event"
        )
    np.testing.assert_allclose(mine_det, ref["det_cor"].to_numpy(), atol=1e-9)
    assert mine_cor.astype(bool).tolist() == ref["corrected"].astype(bool).tolist()


def test_correct_short_valid_group_merging(ref_patched):
    # valid group of 8 (< min_group_len=20) between two events must be absorbed
    n = 300
    rng = np.random.default_rng(4)
    x = 5 + rng.normal(0, 0.1, n)
    ev = np.zeros(n, dtype=int)
    ev[100:120] = 1
    ev[128:150] = 2  # 8 valid points between events
    idx = pd.date_range("2022-01-01", periods=n, freq="15min")
    rdf = pd.DataFrame({"observed": x, "detected_event": ev}, index=idx)
    mine_det, mine_cor = correct.correct_series(
        x, ev, idx, order=(1, 1, 0)
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref = ref_patched["arima_correct"].generate_corrections(rdf.copy(), "observed", "detected_event")
    np.testing.assert_allclose(mine_det, ref["det_cor"].to_numpy(), atol=1e-9)
    assert mine_cor[125]  # the sandwiched valid points were corrected too


def test_event_at_edges_parity(ref_patched):
    n = 400
    rng = np.random.default_rng(8)
    x = 3 + np.cos(np.arange(n) / 30) + rng.normal(0, 0.15, n)
    ev = np.zeros(n, dtype=int)
    ev[:25] = 1       # event at series start -> backcast only
    ev[-30:] = 2      # event at series end -> forecast only
    idx = pd.date_range("2022-01-01", periods=n, freq="15min")
    rdf = pd.DataFrame({"observed": x, "detected_event": ev}, index=idx)
    mine_det, _ = correct.correct_series(x, ev, idx, order=(1, 1, 0))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref = ref_patched["arima_correct"].generate_corrections(rdf.copy(), "observed", "detected_event")
    np.testing.assert_allclose(mine_det, ref["det_cor"].to_numpy(), atol=1e-9)


def test_all_anomalous_terminates():
    n = 50
    x = np.ones(n)
    ev = np.ones(n, dtype=int)
    idx = pd.date_range("2022-01-01", periods=n, freq="15min")
    det, cor = correct.correct_series(x, ev, idx, order=(1, 0, 0))
    np.testing.assert_array_equal(det, x)  # left uncorrected, no hang
    assert not cor.any()

