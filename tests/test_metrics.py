"""compare_events_sql / point_metrics / event_metrics vs a sequential
numpy scan of the reference loop and plain numpy counts."""

import numpy as np
import pandas as pd
import pytest

from pyhydroqc_spark.operators import events as ev_ops, metrics


def _compare_one(labeled: np.ndarray, detected: np.ndarray, wf: int) -> np.ndarray:
    """The numpy spec of ``compare_events`` for one series: the reference's
    sequential group merge (`anomaly_utilities.py:168-181`), then each
    group but the trailing one categorized with ``wf`` edge rows left
    'tn' (assign_cm, :122-135)."""
    n = len(labeled)
    grp = np.zeros(n, dtype=int)
    gi = 0
    prev_la, prev_da = labeled[0], detected[0]
    for i in range(n):
        la, da = labeled[i], detected[i]
        if la != prev_la or da != prev_da:
            if prev_la == 0 and prev_da == 0:
                gi += 1
            elif la == 0 and da == 0:
                gi += 1
            elif la != prev_la and da != prev_da:
                gi += 1
        grp[i] = gi
        prev_la, prev_da = la, da

    cm = np.full(n, "tn", dtype=object)
    starts = np.r_[0, np.flatnonzero(np.diff(grp)) + 1]
    ends = np.r_[starts[1:], n]
    for s, e in zip(starts, ends):
        if grp[s] >= gi:  # trailing group: never categorized
            continue
        has_d = detected[s:e].any()
        has_l = labeled[s:e].any()
        if not (has_d or has_l):
            continue
        val = "tp" if (has_d and has_l) else ("fp" if has_d else "fn")
        lo, hi = s + wf, e - wf
        if hi > lo:
            cm[lo:hi] = val
    return cm


def _spec_conf(df, wf):
    """``_compare_one`` per series of collected event rows, in (doc_id,
    pos) order."""
    pdf = df.select("doc_id", "pos", "labeled_event", "detected_event").toPandas()
    out = []
    for _, g in pdf.sort_values(["doc_id", "pos"]).groupby("doc_id", sort=True):
        out += _compare_one(
            g["labeled_event"].to_numpy(), g["detected_event"].to_numpy(), wf
        ).tolist()
    return out


def _sql_conf(df, wf):
    return (
        metrics.compare_events_sql(df, wf=wf)
        .orderBy("doc_id", "pos")
        .toPandas()["conf_mtx"]
        .tolist()
    )


def _mk_events(spark, labeled, detected):
    n = len(labeled)
    pdf = pd.DataFrame(
        {
            "doc_id": ["s"] * n,
            "pos": range(n),
            "labeled_anomaly": np.asarray(labeled, dtype=bool),
            "detected_anomaly": np.asarray(detected, dtype=bool),
        }
    )
    df = spark.createDataFrame(pdf)
    df = ev_ops.anomaly_events(df, "labeled_anomaly", wf=1, out_col="labeled_event")
    df = ev_ops.anomaly_events(df, "detected_anomaly", wf=1, out_col="detected_event")
    return df, pdf


FLAG_CASES = [(0, 120, 0.08, 0.1), (1, 200, 0.15, 0.02), (2, 80, 0.3, 0.3)]


@pytest.mark.parametrize("seed,n,pl,pdet", FLAG_CASES)
@pytest.mark.parametrize("wf", [0, 1, 2])
def test_compare_events_kernel_equals_sql_on_random_flags(spark, seed, n, pl, pdet, wf):
    """The numpy spec and the Window-expression form agree row for row on
    events built by ``anomaly_events`` from seeded random flags."""
    rng = np.random.default_rng(seed)
    df, _ = _mk_events(spark, rng.random(n) < pl, rng.random(n) < pdet)
    got = _sql_conf(df, wf)
    assert got == _spec_conf(df, wf)
    assert set(got) - {"tn"}  # some group is categorized


def _div(a, b):
    return a / b if b else None


def test_point_and_event_metrics_equal_numpy_counts(spark):
    """point_metrics counts each confusion category over all rows;
    event_metrics counts the rows where a series' category changes into
    tp/fp/fn (the first row compares against "tn"). Both equal plain
    numpy counts over the collected conf_mtx column, ratios included."""
    rng = np.random.default_rng(8)
    n = 250
    rows = []
    for d in ("a", "b"):
        labeled = rng.random(n) < 0.1
        detected = labeled & (rng.random(n) < 0.7) | (rng.random(n) < 0.05)
        df, _ = _mk_events(spark, labeled, detected)
        cm = metrics.compare_events_sql(df, wf=1).toPandas().assign(doc_id=d)
        rows.append(cm)
    pdf = pd.concat(rows, ignore_index=True).sort_values(["doc_id", "pos"])
    cm_df = spark.createDataFrame(pdf[["doc_id", "pos", "conf_mtx"]])

    cat = pdf["conf_mtx"].to_numpy()
    tp, fp, fn, tn = (int((cat == c).sum()) for c in ("tp", "fp", "fn", "tn"))
    prc, rcl = _div(tp, tp + fp), _div(tp, tp + fn)
    got = metrics.point_metrics(cm_df).toPandas().iloc[0]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
    np.testing.assert_allclose(
        [got["prc"], got["npv"], got["acc"], got["rcl"], got["f1"], got["f2"]],
        [prc, _div(tn, tn + fn), _div(tp + tn, tp + tn + fp + fn), rcl,
         _div(2.0 * prc * rcl, prc + rcl), _div(5.0 * tp, 5.0 * tp + 4.0 * fn + fp)],
        atol=1e-12,
    )

    prev = pdf.groupby("doc_id")["conf_mtx"].shift(1).fillna("tn").to_numpy()
    new = cat != prev
    etp, efp, efn = (int((new & (cat == c)).sum()) for c in ("tp", "fp", "fn"))
    assert min(etp, efp, efn) > 0  # every counted category occurs
    got = metrics.event_metrics(cm_df).toPandas().iloc[0]
    assert (got["tp"], got["fp"], got["fn"]) == (etp, efp, efn)
    eprc, ercl = _div(etp, etp + efp), _div(etp, etp + efn)
    np.testing.assert_allclose(
        [got["prc"], got["rcl"], got["f1"], got["f2"]],
        [eprc, ercl, _div(2.0 * eprc * ercl, eprc + ercl),
         _div(5.0 * etp, 5.0 * etp + 4.0 * efn + efp)],
        atol=1e-12,
    )


def test_aggregate_results(spark):
    n = 30
    base = pd.DataFrame({"doc_id": ["s"] * n, "pos": range(n)})
    m1 = base.assign(detected_event=[1 if 5 <= i <= 8 else 0 for i in range(n)])
    m2 = base.assign(detected_event=[2 if 7 <= i <= 12 else 0 for i in range(n)])
    out = metrics.aggregate_results(
        {"a": spark.createDataFrame(m1), "b": spark.createDataFrame(m2)}
    )
    got = out.orderBy("pos").toPandas()["detected_event"].tolist()
    assert got == [(5 <= i <= 12) for i in range(n)]


def test_compare_events_sql_equals_kernel(spark):
    """The Window-expression compare_events must be row-identical to the
    numpy spec on adversarial event sequences (overlaps, touching groups,
    trailing group, singleton groups) over several series."""
    rng = np.random.default_rng(17)
    rows = []
    for d in ["a", "b", "c"]:
        n = 300
        lab = (rng.random(n) < 0.08).astype(int)
        det = (rng.random(n) < 0.12).astype(int)
        # enumerate simple runs as pseudo event-ids (what anomaly_events makes)
        def ids(f):
            out, g = [], 0
            prev = 0
            for v in f:
                if v and not prev:
                    g += 1
                out.append(g if v else 0)
                prev = v
            return out
        li, di = ids(lab), ids(det)
        for i in range(n):
            rows.append((d, i, int(li[i]), int(di[i])))
    # a series that ends inside an overlapping labeled/detected group
    lab_end = [0] * 10 + [1] * 10 + [0] * 10 + [2] * 10
    det_end = [0] * 12 + [1] * 3 + [0] * 20 + [2] * 5
    rows += [("d", i, la, da) for i, (la, da) in enumerate(zip(lab_end, det_end))]
    df = spark.createDataFrame(
        rows, "doc_id string, pos long, labeled_event long, detected_event long"
    )
    for wf in (0, 1, 2):
        assert _sql_conf(df, wf) == _spec_conf(df, wf), wf
