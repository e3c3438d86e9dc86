"""Rollup correctness vs pandas resample oracle; tier-from-tier equivalence."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

from pyhydroqc_spark.operators import rollup


@pytest.fixture(scope="module")
def fact(spark):
    rng = np.random.default_rng(1)
    rows = []
    for d in ["a", "b"]:
        n = 500
        ts = pd.date_range("2022-01-01 00:07", periods=n, freq="11min")  # off-grid
        vals = rng.normal(10, 2, n)
        rows.append(pd.DataFrame({"doc_id": d, "pos": range(n), "ts": ts, "det_cor": vals}))
    pdf = pd.concat(rows, ignore_index=True)
    return spark.createDataFrame(pdf), pdf


@pytest.mark.parametrize("tier,freq", [(900, "15min"), (3600, "1h"), (86400, "1D")])
def test_rollup_matches_resample(fact, tier, freq):
    df, pdf = fact
    got = (
        rollup.rollup_points(df, tier)
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )
    for d in ["a", "b"]:
        sub = pdf[pdf.doc_id == d].set_index("ts")["det_cor"]
        exp = sub.resample(freq).agg(["count", "sum", "mean", "min", "max"])
        exp = exp[exp["count"] > 0]
        mine = got[got.doc_id == d].set_index("bucket_start")
        assert list(mine.index) == list(exp.index)
        np.testing.assert_allclose(mine["cnt"], exp["count"])
        np.testing.assert_allclose(mine["sum_val"], exp["sum"], atol=1e-9)
        np.testing.assert_allclose(mine["avg_val"], exp["mean"], atol=1e-9)
        np.testing.assert_allclose(mine["min_val"], exp["min"], atol=1e-12)
        np.testing.assert_allclose(mine["max_val"], exp["max"], atol=1e-12)


def test_tier_from_tier_equals_direct(fact):
    df, _ = fact
    # the pipeline's cascade: 15min from facts, then 1h and 1d tier-from-tier
    derived = rollup.rollup_points(df, 900)
    for t in (3600, 86400):
        derived = rollup.rollup_from_rollup(derived.drop("tier"), t)
    direct_1d = rollup.rollup_points(df, 86400).orderBy("doc_id", "bucket_start").toPandas()
    derived_1d = derived.orderBy("doc_id", "bucket_start").toPandas()
    np.testing.assert_allclose(derived_1d["cnt"], direct_1d["cnt"])
    np.testing.assert_allclose(derived_1d["sum_val"], direct_1d["sum_val"], atol=1e-9)
    np.testing.assert_allclose(derived_1d["avg_val"], direct_1d["avg_val"], atol=1e-9)
    np.testing.assert_allclose(derived_1d["min_val"], direct_1d["min_val"])
    np.testing.assert_allclose(derived_1d["max_val"], direct_1d["max_val"])


def test_rollup_ignores_nulls(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["x"] * 4,
            "pos": range(4),
            "ts": pd.date_range("2022-01-01", periods=4, freq="15min"),
            "det_cor": [1.0, None, 3.0, None],
        }
    )
    got = rollup.rollup_points(spark.createDataFrame(pdf), 3600).toPandas()
    assert got["cnt"].tolist() == [2]
    assert got["avg_val"].tolist() == [2.0]


def test_gapfill_semantics(spark):
    """Dense grid + every fill strategy: zero, locf (forward only —
    leading holes stay NULL), time-linear interpolate (strictly between
    known buckets), null (densify only); is_gap marks synthesized rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = [
        ("a", 0, 4, 10.0, 2.5, 1.0, 5.0),
        ("a", 900, 2, 6.0, 3.0, 2.0, 4.0),
        ("a", 3600, 1, 8.0, 8.0, 8.0, 8.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "b", "cnt", "sum_val", "avg_val", "min_val", "max_val"]
    )
    df = spark.createDataFrame(pdf).select(
        "doc_id",
        F.timestamp_seconds("b").alias("bucket_start"),
        "cnt", "sum_val", "avg_val", "min_val", "max_val",
    )
    out = rollup.gapfill(df, 900).orderBy("bucket_start").toPandas()
    out["t"] = out["bucket_start"].astype("int64") // 10**9
    assert out["t"].tolist() == [0, 900, 1800, 2700, 3600]
    assert out["is_gap"].tolist() == [False, False, True, True, False]
    assert out["cnt"].tolist() == [4, 2, 0, 0, 1]
    # time-linear between 3.0@900 and 8.0@3600
    assert abs(out.loc[2, "avg_val"] - (3.0 + 5.0 * 900 / 2700)) < 1e-9
    assert abs(out.loc[3, "avg_val"] - (3.0 + 5.0 * 1800 / 2700)) < 1e-9

    mixed = rollup.gapfill(
        df, 900,
        fill={"cnt": "zero", "sum_val": "zero", "avg_val": "locf",
              "min_val": "null", "max_val": "interpolate"},
    ).orderBy("bucket_start").toPandas()
    assert mixed["avg_val"].tolist() == [2.5, 3.0, 3.0, 3.0, 8.0]  # locf
    assert pd.isna(mixed.loc[2, "min_val"]) and pd.isna(mixed.loc[3, "min_val"])

    with pytest.raises(ValueError, match="unknown fill strategy"):
        rollup.gapfill(df, 900, fill={"avg_val": "nearest"})
    with pytest.raises(ValueError, match="not in frame"):
        rollup.gapfill(df, 900, fill={"nope": "locf"})


def test_hist_sketch_composes_and_quantiles(spark):
    """Fixed-bin histogram sketches of rollup_points(hist=): 1d composed
    from 1h by rollup_from_rollup == 1d direct (exact integer sums),
    every bucket's bins match the numpy bin formula (values exactly on
    bin edges, at lo and hi, below lo and above hi included), and the
    quantile bins match numpy order statistics."""
    import numpy as np
    import pandas as pd

    hist = (32, -5.0, 30.0)
    rng = np.random.default_rng(7)
    n = 8000
    pdf = pd.DataFrame(
        {
            "doc_id": (np.arange(n) % 4).astype(str),
            "ts": pd.to_datetime(np.arange(n) * 137, unit="s"),
            "value": rng.normal(12, 6, n).round(2),
        }
    )
    # one series of domain edges: every bin edge -5 + k·35/32 (k = 0 is
    # lo, k = 32 is hi), then values below lo and above hi
    edges = [-5.0 + k * 35.0 / 32 for k in range(33)] + [-5.5, -1e6, 30.5, 1e6]
    pdf = pd.concat(
        [
            pdf,
            pd.DataFrame(
                {
                    "doc_id": "edge",
                    "ts": pd.to_datetime(np.arange(len(edges)) * 600, unit="s"),
                    "value": edges,
                }
            ),
        ],
        ignore_index=True,
    )
    df = spark.createDataFrame(pdf)

    def points(tier):
        return rollup.rollup_points(df, tier, value_col="value", hist=hist)

    def hists(frame):
        return {
            (r["doc_id"], r["bucket_start"]): list(r["hist"])
            for r in frame.collect()
        }

    direct = hists(points(86400))
    composed = hists(rollup.rollup_from_rollup(points(3600).drop("tier"), 86400))
    assert composed == direct and len(direct) > 4

    def np_bins(values):
        return np.clip(np.floor((values + 5) / 35 * 32).astype(int), 0, 31)

    day = (pdf.ts.astype("int64") // 10**9 // 86400 * 86400).to_numpy()
    st = rollup.hist_stats(points(86400)).toPandas()
    assert len(st) == len(direct)
    for row in st.itertuples():
        sub = pdf[(pdf.doc_id == row.doc_id) & (day == row.bucket_start.timestamp())]
        bins = np_bins(sub.value)
        counts = np.bincount(bins, minlength=32)
        cum = counts.cumsum()
        assert list(row.hist) == counts.tolist(), row.doc_id
        assert int(row.p50_bin) == int(np.argmax(100 * cum >= 50 * cum[-1]))
        assert int(row.p95_bin) == int(np.argmax(100 * cum >= 95 * cum[-1]))
        assert int(row.hist_checksum) == int((bins + 1).sum())
        assert int(row.hist_n) == len(sub)
    # edge k lands in bin k (k = 32, at hi, clamps to 31); below lo and
    # above hi clamp to the edge bins
    edge = st[st.doc_id == "edge"].iloc[0]
    assert list(edge["hist"]) == [3] + [1] * 30 + [4]
    # empty/NULL-only bucket: zero checksum, NULL quantile bins
    null_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["z"], "ts": pd.to_datetime([0], unit="s"),
                      "value": [None]}).astype({"value": "float64"})
    )
    zrow = rollup.hist_stats(
        rollup.rollup_points(null_df, 86400, value_col="value", hist=hist)
    ).collect()[0]
    assert zrow["hist_checksum"] == 0 and zrow["p50_bin"] is None
    # a literal NaN (not NULL) lands in bin 0 and counts in cnt, so
    # cnt == Σ hist and hist_n (read from cnt) is the sketch's total
    nan_df = spark.sql(
        "SELECT doc_id, timestamp_seconds(0) AS ts, value FROM VALUES "
        "('n', CAST('NaN' AS DOUBLE)), ('n', 1.0D), ('n', CAST(NULL AS DOUBLE)) "
        "AS t(doc_id, value)"
    )
    nrow = rollup.hist_stats(
        rollup.rollup_points(nan_df, 86400, value_col="value", hist=hist)
    ).collect()[0]
    assert nrow["hist"][0] == 1 and nrow["hist"][5] == 1
    assert sum(nrow["hist"]) == nrow["cnt"] == nrow["hist_n"] == 2
    assert nrow["hist_checksum"] == 1 + 6


def test_multi_tier_rollup_equals_single_tier_calls(fact):
    """rollup_points over a tuple of tiers (one explode, one aggregation)
    returns exactly the rows of one call per tier: counts and sketches
    equal, floats within 1e-9."""
    df, _ = fact
    df = df.withColumn("increment", F.col("det_cor") - 10)
    kw = dict(hist=(32, 0.0, 20.0), order_col="pos",
              sum_cols={"increment": "counter_delta"})
    tiers = (900, 3600, 86400)
    keys = ["tier", "doc_id", "bucket_start"]
    multi = rollup.rollup_points(df, tiers, **kw)
    single = rollup.rollup_points(df, tiers[0], **kw)
    for t in tiers[1:]:
        single = single.unionByName(rollup.rollup_points(df, t, **kw))
    assert multi.columns == single.columns
    got = multi.toPandas().sort_values(keys).reset_index(drop=True)
    exp = single.toPandas().sort_values(keys).reset_index(drop=True)
    assert len(got) == len(exp) and set(got.tier) == set(tiers)
    for c in keys + ["cnt"]:
        assert got[c].tolist() == exp[c].tolist(), c
    assert [list(h) for h in got["hist"]] == [list(h) for h in exp["hist"]]
    for c in ("sum_val", "avg_val", "min_val", "max_val", "open_val",
              "close_val", "counter_delta"):
        np.testing.assert_allclose(got[c], exp[c], rtol=0, atol=1e-9, err_msg=c)


def test_ohlc_composes(spark):
    """open/close (order_col=) per bucket; cascade composition = the
    earliest finer bucket's open / latest finer bucket's close == the
    direct coarse computation."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 6,
            "pos": range(6),
            "ts": pd.to_datetime([0, 700, 1700, 3700, 5000, 86500], unit="s"),
            "value": [5.0, 2.0, 9.0, 1.0, 7.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    q = rollup.rollup_points(df, 900, value_col="value", order_col="pos")
    got = {
        int(r["bucket_start"].timestamp()): (r["open_val"], r["close_val"])
        for r in q.collect()
    }
    assert got[0] == (5.0, 2.0) and got[900] == (9.0, 9.0)
    direct_1d = rollup.rollup_points(df, 86400, value_col="value", order_col="pos")
    composed_1d = rollup.rollup_from_rollup(q.drop("tier"), 86400)
    d = {int(r["bucket_start"].timestamp()): (r["open_val"], r["close_val"])
         for r in direct_1d.collect()}
    c = {int(r["bucket_start"].timestamp()): (r["open_val"], r["close_val"])
         for r in composed_1d.collect()}
    assert d == c == {0: (5.0, 7.0), 86400: (3.0, 3.0)}


def test_counter_increments_reset_rule(spark):
    """Prometheus increase() semantics: rises accumulate, a reset
    (value < previous) contributes the new value; bucket deltas compose
    by plain sum through the cascade."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 6,
            "pos": range(6),
            "ts": pd.to_datetime([0, 600, 1200, 3700, 4200, 90000], unit="s"),
            "value": [10.0, 15.0, 3.0, 8.0, 8.0, 1.0],
        }
    )
    v = F.col("value")
    prev = F.lag("value").over(Window.partitionBy("doc_id").orderBy("pos"))
    inc = spark.createDataFrame(pdf).withColumn(
        "increment", rollup.counter_increment_expr(v, prev)
    )
    got = {r["pos"]: r["increment"] for r in inc.collect()}
    #     first  +5   reset->3  +5   flat  reset->1
    assert got == {0: 0.0, 1: 5.0, 2: 3.0, 3: 5.0, 4: 0.0, 5: 1.0}
    q = rollup.rollup_points(
        inc, 900, value_col="value", sum_cols={"increment": "counter_delta"}
    )
    per_bucket = {
        int(r["bucket_start"].timestamp()): r["counter_delta"] for r in q.collect()
    }
    assert per_bucket == {0: 5.0, 900: 3.0, 3600: 5.0, 90000: 1.0}
    d = rollup.rollup_from_rollup(q.drop("tier"), 86400, sum_cols=("counter_delta",))
    per_day = {
        int(r["bucket_start"].timestamp()): r["counter_delta"] for r in d.collect()
    }
    assert per_day == {0: 13.0, 86400: 1.0}
