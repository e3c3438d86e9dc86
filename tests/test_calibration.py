"""Calibration operators vs plain numpy specs of SURVEY.md's stated
semantics (W5 edge filter and day scan, §7.6 persist candidates, W6
find_gap, W7 linear drift), and the drift ramp vs datagen's injected
``Defects.drift``."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark.datagen import gen_series
from pyhydroqc_spark.operators import calibration, rules
from pyhydroqc_spark.params import CalibParams

CAL = CalibParams(hour_low=7, hour_high=17, persist_low=3, persist_high=7)
T_START = pd.Timestamp("2022-03-01 00:00")  # a Tuesday
STEP = pd.Timedelta(minutes=15)
DAY = 96  # 15-minute points per day


def _series(seed=0, n=700):
    rng = np.random.default_rng(seed)
    x = 10 + np.sin(np.arange(n) / 40) * 2 + rng.normal(0, 0.15, n)
    # step at a business-hour point + small persist plateaus
    x[300:] += 2.5
    x[299] = x[298]  # tiny spike guard
    x[40:45] = x[40]  # 5-long plateau, Tue 10:00 (business hours → calib candidate)
    x[500:540] = x[500]  # long plateau (beyond persist_high)
    idx = pd.date_range(T_START, periods=n, freq="15min")
    return pd.Series(x, index=idx)


def _spark_df(spark, ser, doc_id="s"):
    pdf = pd.DataFrame(
        {
            "doc_id": [doc_id] * len(ser),
            "pos": range(len(ser)),
            "ts": ser.index,
            "observed": ser.values,
        }
    )
    return spark.createDataFrame(pdf)


def _business(t: pd.Timestamp, calib=CAL) -> bool:
    """SURVEY P4 with pandas' weekday numbering (Mon=0 … Sun=6)."""
    return t.dayofweek <= 4 and calib.hour_low <= t.hour <= calib.hour_high


def _edge_filter_np(x, width):
    """SURVEY W5 (`calibration.py:34-36`): edge[i] = (sum(x[i-w:i]) -
    sum(x[i:i+w])) / w on the rows with w neighbours on each side, 0
    on the first and last w rows."""
    out = np.zeros(len(x))
    for i in range(width, len(x) - width):
        out[i] = (x[i - width : i].sum() - x[i : i + width].sum()) / width
    return out


@pytest.mark.parametrize("seed,width", [(0, 4), (1, 1), (2, 7)])
def test_edge_filter_matches_numpy_spec(spark, seed, width):
    ser = _series(seed)
    got = (
        calibration.edge_filter(_spark_df(spark, ser), width)
        .orderBy("pos")
        .select("edge_diff")
        .toPandas()["edge_diff"]
        .to_numpy()
    )
    np.testing.assert_allclose(got, _edge_filter_np(ser.to_numpy(), width), atol=1e-9)


def _edge_candidates_np(ts, edge, threshold, calib=CAL):
    """The per-day scan (`calibration.py:38-49`): a day whose largest
    |edge| exceeds ``threshold`` nominates the time of its largest edge
    value (not of the largest |edge|), kept on business days and hours."""
    out = []
    for day in sorted(set(t.normalize() for t in ts)):
        rows = [i for i, t in enumerate(ts) if t.normalize() == day]
        if max(abs(edge[i]) for i in rows) <= threshold:
            continue
        best = rows[0]
        for i in rows:
            if edge[i] > edge[best]:
                best = i
        if _business(ts[best], calib):
            out.append(ts[best])
    return out


def test_edge_candidates_match_numpy_spec(spark):
    """Downward steps put a day's largest edge on the step: Tue 10:00 and
    Fri 12:00 are kept, Wed 03:00 (hour) and Sun 12:00 (weekday) are not,
    Mon 17:00 sits on the hour bound. An upward step on Thu makes the
    largest |edge| negative, so that day nominates its largest positive
    edge instead."""
    rng = np.random.default_rng(4)
    n, width = 8 * DAY, 4
    x = 5 + rng.normal(0, 0.05, n)
    for day, hour, size in ((0, 10, -3), (1, 3, -3), (2, 11, 3), (3, 12, -3),
                            (5, 12, -3), (6, 17, -3)):
        x[day * DAY + hour * 4 :] += size
    ser = pd.Series(x, index=pd.date_range(T_START, periods=n, freq="15min"))
    got = (
        calibration.edge_candidates(
            calibration.edge_filter(_spark_df(spark, ser), width), 0.5, CAL
        )
        .select("candidate")
        .toPandas()["candidate"]
        .sort_values()
        .tolist()
    )
    want = _edge_candidates_np(list(ser.index), _edge_filter_np(x, width), 0.5)
    assert [pd.Timestamp(t) for t in got] == want
    kept = {(t.dayofweek, t.hour) for t in want}
    assert {(1, 10), (4, 12), (0, 17)} <= kept
    assert not kept & {(2, 3), (6, 12)}


def _persist_candidates_np(x, ts, max_range, persist, calib=CAL):
    """SURVEY W4 then §7.6 (`calibration.py:54-97`) from the raw values.
    Range and persistence rules give the input flags; a persist group is
    a run of rows equal to their predecessor. ``calib_persist_detect``
    extends each group one row earlier (its ``shift(-1)``) and flags the
    groups whose extended length lies in [persist_low, persist_high]; the
    candidate flag is (flag or hit) on business days and hours."""
    n = len(x)
    groups = []  # [first repeat row, last repeat row]
    i = 1
    while i < n:
        if x[i] == x[i - 1]:
            j = i
            while j + 1 < n and x[j + 1] == x[j]:
                j += 1
            groups.append((i, j))
            i = j + 1
        else:
            i += 1
    flag = [bool(v > max_range) for v in x]
    hit = [False] * n
    for a, b in groups:
        if b - a + 1 >= persist:
            for k in range(a, b + 1):
                flag[k] = True
        start = a - 1  # the one-row-earlier extension
        if calib.persist_low <= b - start + 1 <= calib.persist_high:
            for k in range(start, b + 1):
                hit[k] = True
    return [(flag[k] or hit[k]) and _business(ts[k], calib) for k in range(n)]


def _persist_input(n=700, seed=6):
    """Noise with equal-value stretches of 2-8 values and a 40-value
    plateau at chosen times, and two out-of-range spikes."""
    rng = np.random.default_rng(seed)
    x = 10 + rng.normal(0, 0.3, n)
    for pos, ln in ((20, 5), (40, 3), (48, 2), (132, 7), (152, 8), (356, 4),
                    (424, 5), (520, 4), (608, 40)):
        x[pos : pos + ln] = x[pos]
    x[70] = x[300] = 30.0
    return pd.Series(x, index=pd.date_range(T_START, periods=n, freq="15min"))


def _persist_flags(df, max_range):
    """range_check → persistence(30) → persist_candidates on the
    ``observed`` column."""
    flagged = rules.persistence(
        rules.range_check(df.withColumn("value", F.col("observed")), max_range, -1e9),
        30, output_grp=True,
    )
    return calibration.persist_candidates(flagged, CAL)


def test_persist_candidates_match_numpy_spec(spark):
    """Stretches of 3 and 7 equal values hit on a Tuesday and Wednesday
    morning (the bounds, counted with the extension row), 2 and 8 do
    not, 4 values at Fri 17:00 are kept and stretches at Tue 05:00, Sat
    10:00 and Sun 10:00 are not; the 40-value plateau and the Tue 17:30
    spike flag through the persistence and range rules."""
    ser = _persist_input()
    got = (
        _persist_flags(_spark_df(spark, ser), 20.0)
        .orderBy("pos")
        .select("calib_flag")
        .toPandas()["calib_flag"]
        .astype(bool)
        .tolist()
    )
    want = _persist_candidates_np(ser.to_numpy(), list(ser.index), 20.0, 30)
    assert got == want
    flagged = {i for i, f in enumerate(want) if f}
    assert {40, 41, 42, 132, 138, 356, 359, 70} <= flagged
    assert not flagged & {20, 48, 49, 152, 424, 520, 300}
    assert 609 in flagged and 608 not in flagged  # plateau: repeat rows only


def _find_gap_np(ts, x, cand, hours=2):
    """SURVEY W6 (`calibration.py:144-183`) over the rows within ±hours of
    ``cand``: the gap sits at the largest |diff|; when the next step has
    the opposite sign (a spike) the gap is the sum of both; the end is
    the row of the largest |shift(-1).diff()|."""
    lo, hi = cand - pd.Timedelta(hours=hours), cand + pd.Timedelta(hours=hours)
    rows = [i for i, t in enumerate(ts) if lo <= t <= hi]
    v = [x[i] for i in rows]
    m = len(v)
    nan = float("nan")
    diff = [nan] + [v[j] - v[j - 1] for j in range(1, m)]
    shifted = [v[j + 1] if j + 1 < m else nan for j in range(m)]
    sdiff = [nan] + [shifted[j] - shifted[j - 1] for j in range(1, m)]

    def argmax_abs(a):
        best = None
        for j, d in enumerate(a):
            if not np.isnan(d) and (best is None or abs(d) > abs(a[best])):
                best = j
        return best

    k = argmax_abs(diff)
    gap = diff[k] + sdiff[k] if diff[k] * sdiff[k] < 0 else diff[k]
    return gap, ts[rows[argmax_abs(sdiff)]]


def test_find_gaps_match_numpy_spec(spark):
    """A plain step, a spike riding on a step (the opposite-sign fix
    keeps only the step), and a window cut by the series start."""
    s = _series(0)
    x = _series(1).to_numpy().copy()
    x[450] += 3.0
    x[451:] += 1.0
    t = pd.Series(x, index=s.index)
    df = _spark_df(spark, s).unionByName(_spark_df(spark, t, "t"))
    cands = [("s", s.index[300]), ("s", s.index[3]), ("t", t.index[450])]
    got = (
        calibration.find_gaps(
            df, spark.createDataFrame(pd.DataFrame(cands, columns=["doc_id", "candidate"]))
        )
        .toPandas()
        .set_index(["doc_id", "calib_date"])
    )
    assert len(got) == len(cands)
    for doc, cand in cands:
        ser = s if doc == "s" else t
        gap, end = _find_gap_np(list(ser.index), ser.to_numpy(), cand)
        row = got.loc[(doc, cand)]
        assert abs(row["gap"] - gap) < 1e-12, (doc, cand)
        assert pd.Timestamp(row["end"]) == end, (doc, cand)
    assert abs(got.loc[("t", t.index[450]), "gap"] - 1.0) < 0.5  # the step, not the spike


def _drift_correct_np(ts, x, events):
    """SURVEY W7 (`calibration.py:186-210`), applied event by event in
    time order: the n rows in [start, end] gain gap/(n-1)·i, i = 0…n-1."""
    y = np.array(x, dtype=float)
    for start, end, gap in sorted(events):
        rows = [k for k, t in enumerate(ts) if start <= t <= end]
        for i, k in enumerate(rows):
            y[k] += gap / (len(rows) - 1) * i
    return y


def _spark_drift(spark, df, events):
    ev = pd.DataFrame(events, columns=["doc_id", "start", "end", "gap"])
    return (
        calibration.drift_correct(df, spark.createDataFrame(ev))
        .orderBy("doc_id", "pos")
        .toPandas()
    )


def test_drift_correct_matches_numpy_spec(spark):
    """Two chained events per series (the second starts at the first's
    end), on two series."""
    s, t = _series(3), _series(4)
    df = _spark_df(spark, s).unionByName(_spark_df(spark, t, "t"))
    events = {
        "s": [(s.index[50], s.index[200], -1.2), (s.index[200], s.index[400], 0.8)],
        "t": [(t.index[10], t.index[90], 2.0), (t.index[90], t.index[600], -0.4)],
    }
    got = _spark_drift(spark, df, [(d, *e) for d, evs in events.items() for e in evs])
    for d, ser in (("s", s), ("t", t)):
        np.testing.assert_allclose(
            got[got.doc_id == d]["drift_cor"].to_numpy(),
            _drift_correct_np(list(ser.index), ser.to_numpy(), events[d]),
            atol=1e-9, err_msg=d,
        )


def test_drift_correct_removes_datagen_drift(spark, monkeypatch):
    """datagen adds linspace(0, gap, e-s+1) over [s, e]; drift_correct
    with -gap over the same rows restores the values the series had
    before the ramp (regenerated from the same seed with a flat ramp)."""
    x, d = gen_series(np.random.default_rng(7), 1200)
    monkeypatch.setattr(np, "linspace", lambda a, b, num: np.zeros(num))
    flat, d_flat = gen_series(np.random.default_rng(7), 1200)
    monkeypatch.undo()
    assert d_flat.drift == d.drift and len(d.drift) == 1
    s, e, gap = d.drift[0]
    ser = pd.Series(x, index=pd.date_range(T_START, periods=len(x), freq="15min"))
    got = _spark_drift(
        spark, _spark_df(spark, ser), [("s", ser.index[s], ser.index[e], -gap)]
    )["drift_cor"].to_numpy()
    np.testing.assert_allclose(got[s : e + 1], flat[s : e + 1], atol=1e-9, equal_nan=True)
    np.testing.assert_array_equal(np.delete(got, np.s_[s : e + 1]), np.delete(x, np.s_[s : e + 1]))
    assert np.isfinite(flat[s : e + 1]).sum() > 90


def _calib_series(seed, n=1500):
    """A datagen series timed so its calibration-length flat run starts
    on a Tuesday at 10:00, with the flat run clear of the drift ramp."""
    x, d = gen_series(np.random.default_rng(seed), n)
    (cs, cl), = d.calib_flat
    (ds, de, _), = d.drift
    assert cs + cl <= ds or cs > de
    start = pd.Timestamp("2022-03-01 10:00") - cs * STEP
    return pd.Series(x, index=pd.date_range(start, periods=n, freq="15min")), d


def test_calibration_chain_on_datagen_defects(spark):
    """persist_candidates → find_gaps → drift_correct on two datagen
    series with ``calib_flat`` and ``drift`` defects, against the numpy
    specs chained the same way: each flagged run's first row is a
    calibration date, its gap and end come from find_gap, and the drift
    ramps chain from the series start to each end in turn (the
    FindCompareGaps.py flow). The injected calibration-length flat run
    is flagged in full."""
    series = {f"g{seed}": _calib_series(seed) for seed in (3, 5)}
    df = None
    for doc, (ser, _) in series.items():
        part = _spark_df(spark, ser, doc)
        df = part if df is None else df.unionByName(part)

    flags = (
        _persist_flags(df, 30.0).orderBy("doc_id", "pos")
        .select("doc_id", "calib_flag").toPandas()
    )
    cands, events = [], []
    for doc, (ser, d) in series.items():
        ts, x = list(ser.index), ser.to_numpy()
        want = _persist_candidates_np(x, ts, 30.0, 30)
        assert flags[flags.doc_id == doc]["calib_flag"].astype(bool).tolist() == want, doc
        (cs, cl), = d.calib_flat
        assert all(want[cs : cs + cl]), doc
        firsts = [ts[k] for k in range(len(want)) if want[k] and (k == 0 or not want[k - 1])]
        cands += [(doc, c) for c in firsts]
        prev = ts[0]
        for c in firsts:
            gap, end = _find_gap_np(ts, x, c)
            events.append((doc, prev, end, gap))
            prev = end
    assert len({c[0] for c in cands}) == 2

    gaps = calibration.find_gaps(
        df, spark.createDataFrame(pd.DataFrame(cands, columns=["doc_id", "candidate"]))
    ).toPandas().set_index(["doc_id", "calib_date"])
    for (doc, cand), (_, _, end, gap) in zip(cands, events):
        assert abs(gaps.loc[(doc, cand), "gap"] - gap) < 1e-12, (doc, cand)
        assert pd.Timestamp(gaps.loc[(doc, cand), "end"]) == end, (doc, cand)

    got = _spark_drift(spark, df, events)
    for doc, (ser, _) in series.items():
        mine = [e[1:] for e in events if e[0] == doc]
        np.testing.assert_allclose(
            got[got.doc_id == doc]["drift_cor"].to_numpy(),
            _drift_correct_np(list(ser.index), ser.to_numpy(), mine),
            atol=1e-9, equal_nan=True, err_msg=doc,
        )


def test_overlap(spark):
    rows = []
    flags = {
        "a": [0, 1, 1, 0, 0, 1],
        "b": [0, 1, 0, 0, 1, 1],
    }
    for snsr, fl in flags.items():
        for i, v in enumerate(fl):
            rows.append(("site1", snsr, i, bool(v)))
    df = spark.createDataFrame(rows, "site string, sensor string, pos int, calib_event_flag boolean")
    got = (
        calibration.overlap(df, "sensor", key="site")
        .orderBy("pos")
        .select("all_calib")
        .toPandas()["all_calib"]
        .tolist()
    )
    assert got == [False, True, False, False, False, True]
