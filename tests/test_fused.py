"""Fused kernel parity: the kernel vs the JVM operator chain, the
token-table Spark pass vs the kernel run per exploded series with JVM
rollups, and ``interpolate_np`` vs pandas."""

import numpy as np
import pandas as pd

from pyhydroqc_spark.operators import fused
from pyhydroqc_spark.params import SeriesParams
from tests.qc_chain import correct_on_driver, jvm_detect, kernel_frame, kernel_rows


P = SeriesParams(max_range=25.0, min_range=-1.0, persist=30, window_sz=30,
                 alpha=0.0001, threshold_min=0.25, widen=1, pdq=(1, 1, 0))


def _series(seed=0, n=900):
    rng = np.random.default_rng(seed)
    x = 10 + 4 * np.sin(np.arange(n) / 30) + rng.normal(0, 0.2, n)
    x[100] = 40.0
    x[300:340] = x[300]
    x[500:505] = np.nan
    return x


def test_fused_spark_matches_native_chain(spark):
    """The kernel equals the JVM operator chain over the same rows:
    rules flags, observed, residuals and events, and the correction of
    the chain's events equals the kernel's."""
    rows = []
    for seed in (3, 4, 5, 6):
        x = _series(seed)
        ts = pd.date_range("2022-01-01", periods=len(x), freq="15min")
        for i in range(len(x)):
            rows.append((f"s{seed}", i, ts[i].to_pydatetime(), None if np.isnan(x[i]) else float(x[i])))
    df = spark.createDataFrame(rows, "doc_id string, pos int, ts timestamp, value double")

    kz = kernel_frame(df.toPandas(), P)
    nat = correct_on_driver(
        jvm_detect(df, P)
        .select("doc_id", "pos", "ts", "anomaly", "observed", "residual", "detected_event")
        .toPandas()
    )

    assert kz["anomaly"].any() and kz["detected_event"].max() > 0
    assert kz["anomaly"].tolist() == nat["anomaly"].tolist()
    np.testing.assert_allclose(kz["observed"], nat["observed"], atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(kz["residual"], nat["residual"], atol=1e-8, equal_nan=True)
    assert kz["detected_event"].tolist() == nat["detected_event"].tolist()
    np.testing.assert_allclose(kz["det_cor"], nat["det_cor"], atol=1e-9, equal_nan=True)
    assert kz["corrected"].tolist() == nat["corrected"].tolist()


def test_fused_tokens_to_cells_matches_exploded_path(spark):
    """The bandwidth-optimal path (token arrays in, finished 15min cells
    out) must equal explode → kernel per series → rollup_points exactly."""
    from pyhydroqc_spark.datagen import gen_token_table
    from pyhydroqc_spark.operators.rollup import rollup_points

    pdf = gen_token_table(n_series=3, n_tok=900, seed=4)
    tok = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    got = (
        fused.fused_tokens_to_cells(tok, P, tier_seconds=900)
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )
    base = kernel_rows(spark, tok, P)
    exp = (
        rollup_points(
            base.select("doc_id", "ts", "pos", "det_cor"), 900, value_col="det_cor"
        )
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )
    assert len(got) == len(exp)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["bucket_start"].tolist() == exp["bucket_start"].tolist()
    assert got["cnt"].tolist() == exp["cnt"].tolist()
    for c in ["sum_val", "avg_val", "min_val", "max_val"]:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float),
            atol=1e-9, equal_nan=True,
        )


def test_fused_cells_coarser_tiers_compose(spark):
    """1h/1d re-aggregated from the kernel's 15min cells equal the tiers
    built from the exploded path."""
    from pyhydroqc_spark.datagen import gen_token_table
    from pyhydroqc_spark.operators.rollup import rollup_from_rollup, rollup_points

    pdf = gen_token_table(n_series=2, n_tok=700, seed=8)
    tok = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cells = fused.fused_tokens_to_cells(tok, P, tier_seconds=900)
    got = (
        rollup_from_rollup(cells.drop("tier"), 86400)
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )
    base = kernel_rows(spark, tok, P)
    exp = (
        rollup_points(
            base.select("doc_id", "ts", "pos", "det_cor"), 86400, value_col="det_cor"
        )
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )
    assert got["cnt"].tolist() == exp["cnt"].tolist()
    for c in ["sum_val", "avg_val", "min_val", "max_val"]:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float),
            atol=1e-9, equal_nan=True,
        )


def test_fused_multi_tier_emission_matches_per_tier(spark):
    """tier_seconds as a tuple: the kernel's per-tier cells equal the
    per-tier rollups of the exploded path, for every tier at once."""
    from pyhydroqc_spark.datagen import gen_token_table
    from pyhydroqc_spark.operators.rollup import rollup_points

    pdf = gen_token_table(n_series=2, n_tok=900, seed=12)
    tok = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cells = fused.fused_tokens_to_cells(
        tok, P, tier_seconds=(900, 3600, 86400)
    ).toPandas()
    base = kernel_rows(spark, tok, P)
    slim = base.select("doc_id", "ts", "pos", "det_cor")
    for t in (900, 3600, 86400):
        got = (
            cells[cells["tier"] == t]
            .sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True)
        )
        exp = (
            rollup_points(slim, t, value_col="det_cor")
            .orderBy("doc_id", "bucket_start")
            .toPandas()
        )
        assert got["cnt"].tolist() == exp["cnt"].tolist(), t
        assert got["bucket_start"].tolist() == exp["bucket_start"].tolist(), t
        for c in ["sum_val", "avg_val", "min_val", "max_val"]:
            np.testing.assert_allclose(
                got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float),
                atol=1e-9, equal_nan=True,
            )


def test_interpolate_np_matches_pandas_exactly():
    """The r7 pure-numpy interpolate replica must be BIT-identical to
    pd.Series.interpolate(method='linear', limit, limit_direction='both')
    on a RangeIndex, including limit-binding interior runs and edge runs."""
    rng = np.random.default_rng(17)
    for trial in range(300):
        n = int(rng.integers(1, 80))
        x = rng.normal(size=n)
        anomaly = rng.random(n) < rng.uniform(0.05, 0.9)
        limit = int(rng.integers(1, 6)) if trial % 2 else 10000
        got = fused.interpolate_np(x, anomaly, limit=limit)
        exp = (
            pd.Series(np.where(anomaly, np.nan, x))
            .interpolate(method="linear", limit=limit, limit_direction="both")
            .to_numpy()
        )
        assert np.array_equal(got, exp, equal_nan=True), (trial, limit)
