"""As-of join + sessionization (operators/timejoin.py)."""

import duckdb
import pandas as pd
import pytest

from pyhydroqc_spark.operators import timejoin


@pytest.fixture(scope="module")
def frames(spark):
    lpdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 5 + ["b"] * 3,
            "ts": pd.to_datetime([10, 25, 30, 55, 300, 5, 40, 200], unit="s"),
            "x": range(8),
        }
    )
    rpdf = pd.DataFrame(
        {
            "doc_id": ["a", "a", "a", "b"],
            "ts": pd.to_datetime([20, 30, 100, 50], unit="s"),
            "mark": [1.0, 2.0, 3.0, 9.0],
        }
    )
    return lpdf, rpdf, spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)


def test_asof_matches_duckdb_native(spark, frames):
    lpdf, rpdf, L, R = frames
    out = (
        timejoin.asof_join(L, R, value_cols=["mark"])
        .orderBy("doc_id", "ts")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("L", lpdf)
    con.register("R", rpdf)
    ref = con.execute(
        """SELECT L.doc_id, L.ts, L.x, R.mark, R.ts AS ts_asof
           FROM L ASOF LEFT JOIN R ON L.doc_id = R.doc_id AND L.ts >= R.ts
           ORDER BY L.doc_id, L.ts"""
    ).df()
    assert out["mark"].fillna(-1).tolist() == ref["mark"].fillna(-1).tolist()
    assert (
        out["ts_asof"].fillna(pd.Timestamp(0)).tolist()
        == ref["ts_asof"].fillna(pd.Timestamp(0)).tolist()
    )
    # equal timestamps match the right row (the ASOF convention)
    assert out.query("doc_id=='a' and x==2")["mark"].iloc[0] == 2.0


def test_asof_duplicate_right_ts_ties_match_merge_asof(spark):
    """Planted DUPLICATE right rows at the same (key, ts): the r6 verdict
    winner could be partition-order nondeterministic. The __rid
    occurrence key pins it to the pandas merge_asof backward convention
    — the LAST duplicate — in the right frame's row order as read.
    Verified against merge_asof on an order-preserving frame; on a
    shuffled right frame (row order is the shuffle's, so merge_asof input
    order no longer applies) the winner must at least be run-to-run
    deterministic."""
    lpdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 4 + ["b"] * 2,
            "ts": pd.to_datetime([10, 20, 25, 90, 20, 80], unit="s"),
            "x": range(6),
        }
    )
    rpdf = pd.DataFrame(
        {
            # three duplicates at a@20, two at b@80
            "doc_id": ["a", "a", "a", "a", "b", "b"],
            "ts": pd.to_datetime([20, 20, 20, 60, 80, 80], unit="s"),
            "mark": [1.0, 2.0, 3.0, 4.0, 7.0, 8.0],
        }
    )
    L, R = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    ref = pd.merge_asof(
        lpdf.sort_values("ts", kind="stable"),
        rpdf.sort_values("ts", kind="stable"),
        on="ts",
        by="doc_id",
        direction="backward",
    ).sort_values(["doc_id", "ts"], kind="stable")
    out = (
        timejoin.asof_join(L, R, value_cols=["mark"])
        .orderBy("doc_id", "ts")
        .toPandas()
    )
    assert out["mark"].fillna(-1).tolist() == ref["mark"].fillna(-1).tolist()
    shuffled = R.repartition(8)
    runs = [
        timejoin.asof_join(L, shuffled, value_cols=["mark"])
        .orderBy("doc_id", "ts")
        .toPandas()["mark"]
        .fillna(-1)
        .tolist()
        for _ in range(2)
    ]
    assert runs[0] == runs[1]


def test_asof_name_collision_suffix(spark, frames):
    _, _, L, R = frames
    out = timejoin.asof_join(
        L.withColumnRenamed("x", "mark"), R, value_cols=["mark"]
    )
    assert "mark_asof" in out.columns and "mark" in out.columns


def test_sessionize_agrees_with_session_window(spark):
    # irregular gaps incl. one exactly at the threshold (both merge)
    ts = pd.DataFrame(
        {
            "doc_id": ["a"] * 6 + ["b"] * 2,
            "ts": pd.to_datetime([0, 50, 110, 400, 401, 900, 0, 301], unit="s"),
        }
    )
    T = spark.createDataFrame(ts)
    rz = timejoin.sessionize(T, 300).orderBy("doc_id", "ts").toPandas()
    assert rz["session_id"].tolist() == [0, 0, 0, 0, 0, 1, 0, 1]
    st = (
        timejoin.session_stats(T, 300)
        .orderBy("doc_id", "session_start")
        .toPandas()
    )
    assert st["n_rows"].tolist() == [5, 1, 1, 1]
    # per (key, session) row counts agree between the two formulations
    agg = (
        rz.groupby(["doc_id", "session_id"]).size().sort_index().tolist()
    )
    assert agg == [5, 1, 1, 1]
