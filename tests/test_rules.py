"""Rules operators vs the genuine reference (rules_detect.py) and vs the
fused kernel's numpy rules, which need no reference checkout."""

import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark.operators import fused, rules
from tests.reference_oracle import load_reference


@pytest.fixture(scope="module")
def REF():
    """The pyhydroqc reference modules. Only the reference-parity tests use
    them; they skip when the checkout is not importable, and the numpy
    kernel comparisons run without it."""
    try:
        return load_reference()
    except ImportError as e:
        pytest.skip(f"pyhydroqc reference checkout not importable: {e}")


def spark_series(long_df, doc_id):
    pdf = (
        long_df.where(F.col("doc_id") == doc_id)
        .orderBy("pos")
        .select("pos", "value")
        .toPandas()
    )
    return pdf


def ref_frame(long_df, doc_id):
    pdf = spark_series(long_df, doc_id)
    idx = pd.date_range("2022-01-01", periods=len(pdf), freq="15min")
    return pd.DataFrame({"raw": pdf["value"].values}, index=idx)


def doc_ids(long_df):
    return [r["doc_id"] for r in long_df.select("doc_id").distinct().collect()]


MAXR, MINR = 25.0, -1.0
PERSIST = 30


def test_range_check_parity(long_df, REF):
    out = (
        rules.range_check(long_df, MAXR, MINR)
        .groupBy("doc_id")
        .agg(F.sum(F.col("anomaly").cast("int")).alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    for d in doc_ids(long_df):
        rdf = ref_frame(long_df, d)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            _, cnt = REF["rules_detect"].range_check(rdf, MAXR, MINR)
        assert out[d] == cnt, d


def test_persistence_parity(long_df, REF):
    flagged = rules.range_check(long_df, MAXR, MINR)
    out = rules.persistence(flagged, PERSIST, output_grp=True)
    got = out.orderBy("doc_id", "pos").select("doc_id", "anomaly", "persist_grp").toPandas()
    for d in doc_ids(long_df):
        rdf = ref_frame(long_df, d)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            rdf, _ = REF["rules_detect"].range_check(rdf, MAXR, MINR)
            rdf, pc = REF["rules_detect"].persistence(rdf, PERSIST, output_grp=True)
        mine = got[got.doc_id == d]
        assert mine["anomaly"].astype(bool).tolist() == rdf["anomaly"].astype(bool).tolist(), d
        assert mine["persist_grp"].tolist() == list(rdf["persist_grp"]), d
        assert int((mine["persist_grp"] != 0).sum()) == pc


def test_group_size_parity(long_df, REF):
    flagged = rules.persistence(rules.range_check(long_df, MAXR, MINR), PERSIST)
    sizes = rules.group_size(flagged).toPandas().set_index("doc_id")["max_run_len"]
    got = flagged.orderBy("doc_id", "pos").select("doc_id", "anomaly").toPandas()
    for d in doc_ids(long_df):
        sub = got[got.doc_id == d].reset_index(drop=True)
        rdf = pd.DataFrame({"anomaly": sub["anomaly"].astype(bool)})
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            size = REF["rules_detect"].group_size(rdf)
        assert int(sizes.get(d, 0)) == size, d


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


def test_interpolate_parity(long_df, REF):
    flagged = rules.persistence(rules.range_check(long_df, MAXR, MINR), PERSIST)
    out = rules.interpolate(flagged)
    got = out.orderBy("doc_id", "pos").select("doc_id", "value", "anomaly", "observed").toPandas()
    for d in doc_ids(long_df):
        sub = got[got.doc_id == d].reset_index(drop=True)
        idx = pd.date_range("2022-01-01", periods=len(sub), freq="15min")
        rdf = pd.DataFrame(
            {"raw": sub["value"].values, "anomaly": sub["anomaly"].astype(bool).values},
            index=idx,
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            rdf = REF["rules_detect"].interpolate(rdf)
        np.testing.assert_allclose(
            sub["observed"].values, rdf["observed"].values, rtol=0, atol=1e-12
        )


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


def test_add_labels_parity(spark, REF):
    rdf = LABEL_PDF.rename(columns={"value": "raw"}).copy()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rdf = REF["rules_detect"].add_labels(rdf)
    assert _spark_labels(spark) == rdf["labeled_anomaly"].astype(bool).tolist()
