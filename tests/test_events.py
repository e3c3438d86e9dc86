"""Event machinery vs the fused kernel's ``widen_events_np`` and a
cumulative sum of change points, property-tested on random boolean
series (integer ops, exact match required)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pyhydroqc_spark.operators import events, fused


def _to_df(spark, flags_by_doc):
    rows = []
    for d, flags in flags_by_doc.items():
        for i, f in enumerate(flags):
            rows.append((d, i, bool(f)))
    return spark.createDataFrame(rows, "doc_id string, pos int, flag boolean")


def _flags_by_doc():
    rng = np.random.default_rng(7)
    return {
        f"d{k}": (rng.random(n) < p).astype(int)
        for k, (n, p) in enumerate([(50, 0.1), (80, 0.3), (40, 0.0), (30, 0.9), (5, 0.5)])
    }


def _spark_events(spark, flags_by_doc, wf):
    return (
        events.anomaly_events(_to_df(spark, flags_by_doc), "flag", wf=wf)
        .orderBy("doc_id", "pos")
        .select("doc_id", "event_id")
        .toPandas()
    )


@pytest.mark.parametrize("wf", [0, 1, 3])
def test_anomaly_events_matches_numpy_kernel(spark, wf):
    flags_by_doc = _flags_by_doc()
    out = _spark_events(spark, flags_by_doc, wf)
    for d, flags in flags_by_doc.items():
        got = out[out.doc_id == d]["event_id"].tolist()
        assert got == fused.widen_events_np(flags, wf).tolist(), (d, wf)


def _group_bools_np(flags):
    """Group index 0,1,2,… per series: a cumulative sum of change points
    (a row whose flag differs from the previous row's)."""
    f = np.asarray(flags, dtype=int)
    return np.cumsum(np.r_[0, f[1:] != f[:-1]]).tolist()


@settings(max_examples=8, deadline=None)
@given(st.lists(st.booleans(), min_size=1, max_size=50), st.lists(st.booleans(), max_size=20))
def test_group_bools_matches_cumsum_of_change_points(spark, flags, other):
    by_doc = {"x": [int(f) for f in flags]}
    if other:
        by_doc["y"] = [int(f) for f in other]
    got = (
        events.group_bools(_to_df(spark, by_doc), "flag", "grp")
        .orderBy("doc_id", "pos")
        .toPandas()
    )
    for d, fl in by_doc.items():
        assert got[got.doc_id == d]["grp"].tolist() == _group_bools_np(fl), d


def test_run_lengths(spark):
    df = _to_df(spark, {"x": [0, 1, 1, 0, 1, 1, 1]})
    out = events.run_ids(df, "flag", "rid")
    out = events.run_lengths(out, "rid", "rl")
    got = out.orderBy("pos").select("rid", "rl").toPandas()
    assert got["rid"].tolist() == [0, 1, 1, 0, 2, 2, 2]
    assert got[got.rid == 1]["rl"].tolist() == [2, 2]
    assert got[got.rid == 2]["rl"].tolist() == [3, 3, 3]
