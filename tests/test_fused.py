"""Fused kernel parity: numpy per-series helpers vs the genuine reference,
and the fused Spark pass vs the native operator chain."""

import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark.operators import fused
from pyhydroqc_spark.params import SeriesParams
from tests.reference_oracle import load_reference


@pytest.fixture(scope="module")
def REF():
    """The pyhydroqc reference modules. Only the three reference-parity
    tests use them; they skip when the checkout is not importable, and
    every other pin in this module runs without it."""
    try:
        return load_reference()
    except ImportError as e:
        pytest.skip(f"pyhydroqc reference checkout not importable: {e}")


P = SeriesParams(max_range=25.0, min_range=-1.0, persist=30, window_sz=30,
                 alpha=0.0001, threshold_min=0.25, widen=1, pdq=(1, 1, 0))


def _series(seed=0, n=900):
    rng = np.random.default_rng(seed)
    x = 10 + 4 * np.sin(np.arange(n) / 30) + rng.normal(0, 0.2, n)
    x[100] = 40.0
    x[300:340] = x[300]
    x[500:505] = np.nan
    return x


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_numpy_helpers_match_reference(seed, REF):
    x = _series(seed)
    idx = pd.date_range("2022-01-01", periods=len(x), freq="15min")
    rdf = pd.DataFrame({"raw": x}, index=idx)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rdf, _ = REF["rules_detect"].range_check(rdf, P.max_range, P.min_range)
        rdf, _ = REF["rules_detect"].persistence(rdf, P.persist)
        rdf = REF["rules_detect"].interpolate(rdf)

    anom = fused.range_flags_np(x, P.max_range, P.min_range)
    anom, _ = fused.persistence_np(x, anom, P.persist)
    obs = fused.interpolate_np(x, anom)
    assert anom.tolist() == rdf["anomaly"].astype(bool).tolist()
    np.testing.assert_allclose(obs, rdf["observed"].to_numpy(), atol=1e-12, equal_nan=True)


def test_threshold_np_matches_reference(REF):
    rng = np.random.default_rng(5)
    r = rng.normal(0, 1, 400)
    lo, hi = fused.dynamic_threshold_np(r, 30, 0.001, 0.1)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        th = REF["anomaly_utilities"].set_dynamic_threshold(
            pd.Series(r), window_sz=30, alpha=0.001, min_range=0.1
        )
    np.testing.assert_allclose(lo, th["low"].to_numpy(), atol=1e-9)
    np.testing.assert_allclose(hi, th["high"].to_numpy(), atol=1e-9)


@pytest.mark.parametrize("wf", [0, 1, 3])
def test_events_np_matches_reference(wf, REF):
    rng = np.random.default_rng(9)
    flags = rng.random(200) < 0.1
    got = fused.widen_events_np(flags, wf)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        exp = REF["anomaly_utilities"].anomaly_events(pd.Series(flags.astype(int)), wf=wf, sf=1.0)
    assert got.tolist() == list(exp)


def test_fused_spark_matches_native_chain(spark):
    from pyhydroqc_spark.operators import correct as C
    from pyhydroqc_spark.operators import detect as D
    from pyhydroqc_spark.operators import rules as R
    from pyhydroqc_spark.operators import threshold as T
    from pyhydroqc_spark.operators.events import anomaly_events

    rows = []
    for d in ["a", "b"]:
        x = _series(3 if d == "a" else 4)
        ts = pd.date_range("2022-01-01", periods=len(x), freq="15min")
        for i in range(len(x)):
            rows.append((d, i, ts[i].to_pydatetime(), None if np.isnan(x[i]) else float(x[i])))
    df = spark.createDataFrame(rows, "doc_id string, pos int, ts timestamp, value double")

    fz = fused.fused_qc_correct(df, P).orderBy("doc_id", "pos").toPandas()

    qc = R.interpolate(R.persistence(R.range_check(df, P.max_range, P.min_range), P.persist))
    det = D.arima_residuals(qc, "observed", order=P.pdq)
    det = T.dynamic_threshold(det, "residual", window_sz=P.window_sz, alpha=P.alpha, min_range=P.threshold_min)
    det = T.detect_threshold_anomalies(det)
    det = det.withColumn("all_anomalies", F.col("detected_anomaly") | F.col("anomaly"))
    det = anomaly_events(det, "all_anomalies", wf=P.widen, out_col="detected_event")
    nat_det = det.orderBy("doc_id", "pos").select(
        "anomaly", "observed", "detected_event"
    ).toPandas()
    cor = C.generate_corrections(
        det.select("doc_id", "pos", "ts", "observed", "detected_event"),
        "observed", "detected_event", arima_order=(1, 1, 0),
    )
    nat_cor = cor.orderBy("doc_id", "pos").select("det_cor", "corrected").toPandas()

    assert fz["anomaly"].tolist() == nat_det["anomaly"].tolist()
    np.testing.assert_allclose(fz["observed"], nat_det["observed"], atol=1e-9, equal_nan=True)
    assert fz["detected_event"].tolist() == nat_det["detected_event"].tolist()
    np.testing.assert_allclose(fz["det_cor"], nat_cor["det_cor"], atol=1e-9, equal_nan=True)
    assert fz["corrected"].tolist() == nat_cor["corrected"].tolist()


def test_fused_tokens_to_cells_matches_exploded_path(spark):
    """The bandwidth-optimal path (token arrays in, finished 15min cells
    out) must equal explode → fused_qc_correct → rollup_points exactly."""
    from pyhydroqc_spark.datagen import gen_token_table
    from pyhydroqc_spark.ingest import explode_tokens
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
    base = fused.fused_qc_correct(explode_tokens(tok), P)
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
    from pyhydroqc_spark.ingest import explode_tokens
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
    base = fused.fused_qc_correct(explode_tokens(tok), P)
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
    from pyhydroqc_spark.ingest import explode_tokens
    from pyhydroqc_spark.operators.rollup import rollup_points

    pdf = gen_token_table(n_series=2, n_tok=900, seed=12)
    tok = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cells = fused.fused_tokens_to_cells(
        tok, P, tier_seconds=(900, 3600, 86400)
    ).toPandas()
    base = fused.fused_qc_correct(explode_tokens(tok), P)
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


def test_emit_arrays_equals_rows(spark):
    """fused_tokens_to_cells emit='arrays' (array-packed Arrow crossing +
    JVM-side explode) is output-identical to the direct row emission,
    including NULL aggregates on empty cells."""
    import pandas as pd

    from pyhydroqc_spark.datagen import gen_token_table
    from pyhydroqc_spark.operators.fused import fused_tokens_to_cells
    from pyhydroqc_spark.params import SeriesParams

    p = SeriesParams(max_range=25.0, min_range=-1.0, persist=30, window_sz=30,
                     alpha=0.0001, threshold_min=0.25, widen=1, pdq=(1, 1, 0))
    pdf = gen_token_table(n_series=4, n_tok=900, seed=5)
    tok = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    frames = {}
    for emit in ("rows", "arrays"):
        frames[emit] = (
            fused_tokens_to_cells(tok, p, tier_seconds=(900, 3600, 86400), emit=emit)
            .orderBy("tier", "doc_id", "bucket_start")
            .toPandas()
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(
        frames["rows"][frames["arrays"].columns], frames["arrays"],
        check_exact=False, atol=1e-12,
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
