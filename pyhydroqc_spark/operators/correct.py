"""Anomaly correction — forecast/backcast blend per anomalous event.

Clean-room re-implementation of the reference's correction pass
(`pyhydroqc/arima_correct.py:13-188`): alternate-run
grouping, conditional widening of too-short valid groups, then an
iterative shortest-event-first loop that forecasts from the preceding
valid group, backcasts from the following one, and cross-fades the two.

The loop is sequential *within* a series (group ids are renumbered as
events are corrected) and independent *across* series, so it is a plain
numpy kernel: ``correct_series`` runs once per series as the last step of
``fused.fused_series_kernel``, inside the pipeline's one Python stage.
Forecasts come from the engine's own numpy ARIMA
(`arima.forecast_arima`) at the given order, or at the order the
``auto_order`` AIC grid picks when none is given, in place of the
reference's pmdarima calls. ``tests/test_correct.py`` checks the loop
against a plain numpy spec of the same steps, forecasting with the same
function.

Deviation from the reference (documented): when a series is entirely
anomalous the reference prints an error and loops forever
(`arima_correct.py:147-148`); the engine leaves those points uncorrected
and terminates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .arima import forecast_arima

MIN_GROUP_LEN = 20  # `arima_correct.py:13` default
MODEL_LIMIT_DAYS = 6  # `arima_correct.py:69` default


def crossfade(front: np.ndarray, back: np.ndarray) -> np.ndarray:
    """Linear ramp blend (`anomaly_utilities.py:346-378`): weight
    (i+1)/(n+1) on the backcast, mirrored on the forecast."""
    n = len(front)
    w = np.arange(1, n + 1, dtype=float) / (n + 1)
    return np.flip(w) * front + w * back


def _alternate_groups(marks: np.ndarray) -> np.ndarray:
    """group_bools semantics (`anomaly_utilities.py:313-343`): a new group id
    at every change of the raw column value, starting at 0."""
    if len(marks) == 0:
        return np.zeros(0, dtype=int)
    changed = np.r_[0, (marks[1:] != marks[:-1]).astype(int)]
    return np.cumsum(changed)


def _widen_groups(event_vals: np.ndarray, grp: np.ndarray, min_group_len: int):
    """arima_group semantics (`arima_correct.py:13-47`): valid groups shorter
    than min_group_len are absorbed into the surrounding anomalous event."""
    n = len(grp)
    ev = event_vals != 0
    agrp = np.zeros(n, dtype=int)
    new_gi = 0
    for g in range(int(grp.max()) + 1 if n else 0):
        m = grp == g
        first = np.argmax(m)
        if (not ev[first]) and int(m.sum()) < min_group_len:
            ev[m] = True
            if new_gi > 0:
                new_gi -= 1
            agrp[m] = new_gi
        else:
            agrp[m] = new_gi
            new_gi += 1
    return ev, agrp


def correct_series(
    values: np.ndarray,
    event_vals: np.ndarray,
    ts: np.ndarray,
    min_group_len: int = MIN_GROUP_LEN,
    model_limit_days: int = MODEL_LIMIT_DAYS,
    order=None,
):
    """Run the correction loop on one series.

    ``ts`` holds the points' timestamps as int64 ns since the epoch (a
    datetime64[ns] array or ``DatetimeIndex`` reads the same). Returns
    (det_cor, corrected) — the corrected value per point and a bool
    marking which points were synthesized.
    """
    vals = np.asarray(values, dtype=float)
    n = len(vals)
    grp = _alternate_groups(np.asarray(event_vals))
    ev, agrp = _widen_groups(np.asarray(event_vals), grp, min_group_len)
    det_cor = vals.copy()
    corrected = ev.copy()
    # the reference's label-based DatetimeIndex slicing, with the same
    # inclusive-endpoint semantics, in int64 ns via searchsorted
    ts_i8 = np.asarray(ts).view(np.int64)
    limit_ns = pd.Timedelta(days=model_limit_days).value

    while ev.any():
        # shortest anomalous group next — ties broken the way pandas
        # value_counts orders them, which the reference relies on
        # (`arima_correct.py:105`). Fast path: when ONE group strictly has
        # the minimum count the pick is unambiguous (numpy bincount); the
        # pandas call — whose tie order comes from an unstable sort over
        # hashtable insertion order and can't be replicated — runs only on
        # actual ties, preserving exact reference behavior.
        sub = agrp[ev]
        counts = np.bincount(sub)
        present = np.flatnonzero(counts)
        mcount = counts[present].min()
        mins = present[counts[present] == mcount]
        if len(mins) == 1:
            i = int(mins[0])
        else:
            i = int(pd.Series(sub).value_counts().index.values[-1])
        gmask = agrp == i
        glen = int(gmask.sum())
        gmax = int(agrp.max())

        yfor = ybac = None
        if i != 0:
            pm = agrp == (i - 1)
            pv, pt = vals[pm], ts_i8[pm]
            # pre[last-limit : last] label slice = first index ≥ lower bound
            start = int(np.searchsorted(pt, pt[-1] - limit_ns, side="left"))
            yfor = forecast_arima(pv[start:], glen, order=order)
        if i != gmax:
            qm = agrp == (i + 1)
            qv, qt = vals[qm], ts_i8[qm]
            # post[first : first+limit] label slice = last index ≤ upper bound
            end = int(np.searchsorted(qt, qt[0] + limit_ns, side="right"))
            ybac = np.flip(forecast_arima(np.flip(qv[:end]), glen, order=order))

        if yfor is None and ybac is None:
            # whole series anomalous — leave as-is, terminate (see module doc)
            corrected[gmask] = False
            ev[gmask] = False
        elif yfor is None:
            det_cor[gmask] = ybac
            ev[gmask] = False
            agrp[agrp > i] -= 1
        elif ybac is None:
            det_cor[gmask] = yfor
            ev[gmask] = False
            agrp[gmask] = i - 1
        else:
            det_cor[gmask] = crossfade(yfor, ybac)
            ev[gmask] = False
            agrp[gmask] = i - 1
            agrp[agrp == i + 1] = i - 1
            agrp[agrp > i] -= 2

    return det_cor, corrected
