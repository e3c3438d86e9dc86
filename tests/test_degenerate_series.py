"""Degenerate-series robustness: at 10^12 sequences the table WILL contain
empty, single-point, all-missing, and all-constant series — every path
(fused cells, the pipeline's commits, the stream merge, the windowed
detectors) must survive them, and the fused cells must agree with the
kernel run per exploded series."""

import numpy as np
import pytest

from pyhydroqc_spark.ingest import explode_tokens
from pyhydroqc_spark.operators import fused
from pyhydroqc_spark.operators.rollup import rollup_points
from pyhydroqc_spark.params import SeriesParams
from tests.qc_chain import kernel_rows

P = SeriesParams(max_range=25.0, min_range=-1.0, persist=30, window_sz=30,
                 alpha=0.0001, threshold_min=0.25, widen=1, pdq=(1, 1, 0))

TOK_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _tok_rows():
    rng = np.random.default_rng(0)
    normal = rng.integers(20000, 40000, 500).tolist()
    return [
        ("all_sentinel", [-1] * 200, 200, "s"),
        ("single_point", [30000], 1, "s"),
        ("two_points", [30000, 31000], 2, "s"),
        ("constant", [25000] * 300, 300, "s"),  # persistence flags the run
        ("mostly_sentinel", [-1] * 95 + [30000] * 5 + [-1] * 100, 200, "s"),
        ("normal", normal, 500, "s"),
    ]


@pytest.fixture(scope="module")
def tok(spark):
    return spark.createDataFrame(_tok_rows(), TOK_SCHEMA).cache()


def test_fused_cells_survives_degenerates(spark, tok):
    cells = fused.fused_tokens_to_cells(tok, P, tier_seconds=900).toPandas()
    # every series contributes one cell per 15-min bucket (cadence == tier)
    got = cells.groupby("doc_id")["cnt"].count().to_dict()
    assert got == {d: n for d, _, n, _ in _tok_rows()}
    # all-sentinel cells exist with cnt=0 and NULL aggregates
    empty = cells[cells["doc_id"] == "all_sentinel"]
    assert (empty["cnt"] == 0).all()
    assert empty["sum_val"].isna().all() and empty["min_val"].isna().all()
    # constant series: everything persistence-flagged -> interpolate has no
    # anchor -> cnt 0 everywhere, but rows still exist
    const = cells[cells["doc_id"] == "constant"]
    assert len(const) == 300


def test_fused_cells_agrees_with_exploded_on_degenerates(spark, tok):
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
    assert got["cnt"].tolist() == exp["cnt"].tolist()
    for c in ["sum_val", "min_val", "max_val"]:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float),
            atol=1e-9, equal_nan=True,
        )


def test_pipeline_commits_degenerates(spark, tok, tmp_path):
    """The pipeline's commit path survives degenerate series: its finest
    tier table holds the same cells as ``fused_tokens_to_cells``, empty
    cells included, and every series gets a tier blob."""
    import os

    from pyhydroqc_spark.pipeline import run_pipeline
    from pyhydroqc_spark.tables import SnapshotTable

    inp = SnapshotTable(str(tmp_path / "input"))
    inp.append(tok, partition="s")
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, P)
    got = (
        SnapshotTable(os.path.join(out, "rollup_900s")).read(spark)
        .orderBy("doc_id", "bucket_start").toPandas()
    )
    exp = (
        fused.fused_tokens_to_cells(tok, P, tier_seconds=900)
        .orderBy("doc_id", "bucket_start").toPandas()
    )
    assert got["cnt"].tolist() == exp["cnt"].tolist()
    assert (got.loc[got["doc_id"] == "all_sentinel", "sum_val"]).isna().all()
    for c in ["sum_val", "avg_val", "min_val", "max_val"]:
        np.testing.assert_array_equal(
            got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float)
        )
    blobs = SnapshotTable(os.path.join(out, "comp_tier_900s")).read(spark).toPandas()
    assert set(blobs["doc_id"]) == {d for d, _, n, _ in _tok_rows() if n > 0}


def test_windowed_detector_survives_degenerates(spark, tok):
    from pyhydroqc_spark.operators import windowed_detect as wd

    long_df = explode_tokens(tok).withColumnRenamed("value", "observed")
    out = wd.windowed_regression_residuals(long_df, time_steps=5).toPandas()
    assert len(out) == sum(n for _, _, n, _ in _tok_rows())
    # short and all-missing series never get a model, hence no residuals
    short = out[out["doc_id"].isin(["single_point", "two_points", "all_sentinel"])]
    assert short["prediction"].isna().all()
    assert short["residual"].isna().all()
    assert out.loc[out["doc_id"] == "normal", "prediction"].notna().sum() > 0


def test_multivar_detector_survives_all_missing_sensor(spark):
    """A site with one fully-missing sensor: the good sensor still gets a
    model (the dead one is excluded from the feature block)."""
    from pyhydroqc_spark.operators import windowed_detect as wd

    n = 200
    rng = np.random.default_rng(1)
    rows = []
    for i in range(n):
        rows.append(("site:good", "site", "good", i, float(10 + rng.normal())))
        rows.append(("site:dead", "site", "dead", i, None))
    df = spark.createDataFrame(
        rows, "doc_id string, source string, sensor string, pos long, observed double"
    )
    out = wd.multivar_regression_residuals(df, time_steps=4).toPandas()
    good = out[out["sensor"] == "good"]
    dead = out[out["sensor"] == "dead"]
    assert good["prediction"].notna().sum() > 0
    assert dead["prediction"].isna().all()
    assert dead["residual"].isna().all()


def test_streaming_merge_survives_all_sentinel_batch(spark, tmp_path):
    """A micro-batch containing only missing values still merges cleanly
    (cnt=0 cells) and doesn't corrupt existing cells."""
    import os

    from pyhydroqc_spark import streaming
    from pyhydroqc_spark.tables import SnapshotTable

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [("a", [30000] * 10 + [31000] * 10, 20, "s")], TOK_SCHEMA
    ).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=(900,))
    spark.createDataFrame(
        [("gap", [-1] * 20, 20, "s")], TOK_SCHEMA
    ).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=(900,))
    agg = SnapshotTable(os.path.join(out_dir, "agg_900s")).read(spark).toPandas()
    a = agg[agg["doc_id"] == "a"]
    assert int(a["cnt"].sum()) == 20
    g = agg[agg["doc_id"] == "gap"]
    assert (g["cnt"] == 0).all() and len(g) > 0
