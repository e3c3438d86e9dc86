"""Rules operators vs the fused kernel's numpy rules (range, persistence,
interpolation, longest run) and vs pandas' own interpolation."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark.operators import fused, rules


def doc_ids(long_df):
    return [r["doc_id"] for r in long_df.select("doc_id").distinct().collect()]


MAXR, MINR = 25.0, -1.0
PERSIST = 30


def test_group_size_matches_longest_run(long_df):
    """group_size is the longest ``run_ids_np`` run of each series' flags;
    a series with no flagged row has no row (read as 0)."""
    flagged = rules.persistence(rules.range_check(long_df, MAXR, MINR), PERSIST)
    sizes = rules.group_size(flagged).toPandas().set_index("doc_id")["max_run_len"]
    got = _by_doc(flagged, "anomaly")
    longest = {}
    for d, g in got.items():
        runs = fused.run_ids_np(g["anomaly"].astype(bool).to_numpy())
        longest[d] = int(np.bincount(runs)[1:].max(initial=0))
        assert int(sizes.get(d, 0)) == longest[d], d
    assert max(longest.values()) >= PERSIST  # a persistence run is flagged


def _by_doc(df, *cols):
    """{doc_id: frame of ``cols`` in pos order}, from one collect."""
    pdf = df.orderBy("doc_id", "pos").select("doc_id", *cols).toPandas()
    return {d: g.reset_index(drop=True) for d, g in pdf.groupby("doc_id")}


def test_rules_match_numpy_kernel(long_df):
    """range_check → persistence → interpolate vs the fused kernel's
    range_flags_np → persistence_np → interpolate_np, series by series."""
    ranged = rules.range_check(long_df, MAXR, MINR).withColumn("ranged", F.col("anomaly"))
    persisted = rules.persistence(ranged, PERSIST, output_grp=True)
    got = _by_doc(
        rules.interpolate(persisted),
        "value", "ranged", "anomaly", "persist_grp", "observed",
    )
    assert len(got) == len(doc_ids(long_df))
    n_persisted = 0
    for d, g in got.items():
        x = g["value"].to_numpy(dtype=float)
        ranged_np = fused.range_flags_np(x, MAXR, MINR)
        anom_np, grp_np = fused.persistence_np(x, ranged_np, PERSIST)
        assert g["ranged"].astype(bool).tolist() == ranged_np.tolist(), d
        assert g["anomaly"].astype(bool).tolist() == anom_np.tolist(), d
        assert g["persist_grp"].tolist() == grp_np.tolist(), d
        np.testing.assert_allclose(
            g["observed"].to_numpy(dtype=float), fused.interpolate_np(x, anom_np),
            rtol=0, atol=1e-12,
        )
        n_persisted += int((anom_np & ~ranged_np).sum())
    assert n_persisted > 0


@pytest.mark.parametrize("limit", [1, 3])
def test_interpolate_limit_semantics(spark, limit):
    vals = [1.0, None, None, None, None, 9.0, None, None]
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * len(vals),
            "pos": range(len(vals)),
            "value": vals,
            "anomaly": [False] * len(vals),
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        rules.interpolate(df, limit=limit)
        .orderBy("pos")
        .select("observed")
        .toPandas()["observed"]
    )
    s = pd.Series([1.0, np.nan, np.nan, np.nan, np.nan, 9.0, np.nan, np.nan])
    exp = s.interpolate(method="linear", limit=limit, limit_direction="both")
    np.testing.assert_allclose(out.values, exp.values, atol=1e-12)


LABEL_PDF = pd.DataFrame(
    {
        "doc_id": ["a"] * 4,
        "pos": range(4),
        "value": [1.0, -9999.0, 2.0, 3.0],
        "cor": [1.0, 1.0, -9999.0, None],
        "labeled_anomaly": [False, False, False, False],
    }
)


def _spark_labels(spark):
    return (
        rules.add_labels(spark.createDataFrame(LABEL_PDF))
        .orderBy("pos")
        .toPandas()["labeled_anomaly"]
        .tolist()
    )


def test_add_labels(spark):
    assert _spark_labels(spark) == [False, True, True, True]


