"""Parity: calibration operators vs the genuine reference calibration.py,
plus the edge filter against a numpy spec that needs no reference."""

import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark.operators import calibration, rules
from pyhydroqc_spark.params import CalibParams
from tests.reference_oracle import load_reference

CAL = CalibParams(hour_low=7, hour_high=17, persist_low=3, persist_high=7)


def _series(seed=0, n=700):
    rng = np.random.default_rng(seed)
    x = 10 + np.sin(np.arange(n) / 40) * 2 + rng.normal(0, 0.15, n)
    # step at a business-hour point + small persist plateaus
    x[300:] += 2.5
    x[299] = x[298]  # tiny spike guard
    x[40:45] = x[40]  # 5-long plateau, Tue 10:00 (business hours → calib candidate)
    x[500:540] = x[500]  # long plateau (beyond persist_high)
    idx = pd.date_range("2022-03-01 00:00", periods=n, freq="15min")
    return pd.Series(x, index=idx)


def _spark_df(spark, ser, extra=None):
    pdf = pd.DataFrame(
        {
            "doc_id": ["s"] * len(ser),
            "pos": range(len(ser)),
            "ts": ser.index,
            "observed": ser.values,
        }
    )
    if extra:
        for k, v in extra.items():
            pdf[k] = v
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def REF():
    """The pyhydroqc reference modules. Only the reference-parity tests use
    them; they skip when the checkout is not importable, and the numpy
    spec comparison runs without it."""
    try:
        return load_reference()
    except ImportError as e:
        pytest.skip(f"pyhydroqc reference checkout not importable: {e}")


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


def test_edge_filter_parity(spark, REF):
    ser = _series()
    width = 4
    df = _spark_df(spark, ser)
    got = (
        calibration.edge_filter(df, width)
        .orderBy("pos")
        .select("edge_diff")
        .toPandas()["edge_diff"]
        .to_numpy()
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        _, exp = REF["calibration"].calib_edge_detect(ser, width, CAL)
    np.testing.assert_allclose(got, exp["val"].to_numpy(), atol=1e-9)


def test_edge_candidates_parity(spark, REF):
    ser = _series()
    width = 4
    thresh = 0.5
    df = _spark_df(spark, ser)
    got = (
        calibration.edge_candidates(
            calibration.edge_filter(df, width), thresh, CAL
        )
        .select("candidate")
        .toPandas()["candidate"]
        .sort_values()
        .tolist()
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        cands, _ = REF["calibration"].calib_edge_detect(ser, width, CAL, threshold=thresh)
    assert [pd.Timestamp(t) for t in got] == sorted(pd.to_datetime(cands))


def test_persist_candidates_parity(spark, REF):
    ser = _series()
    # build persist groups with the engine's own persistence op
    df = _spark_df(spark, ser)
    df = df.withColumn("value", F.col("observed"))
    flagged = rules.range_check(df, 1e9, -1e9)
    flagged = rules.persistence(flagged, 30, output_grp=True)
    out = calibration.persist_candidates(flagged, CAL)
    got = out.orderBy("pos").select("calib_flag").toPandas()["calib_flag"]

    rdf = pd.DataFrame({"observed": ser.values, "anomaly": False}, index=ser.index)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rdf2, _ = REF["rules_detect"].range_check(rdf.rename(columns={"observed": "raw"}).assign(observed=ser.values), 1e9, -1e9)
        rdf2, _ = REF["rules_detect"].persistence(rdf2, 30, output_grp=True)
        rdf2["observed"] = ser.values
        calib, dates = REF["calibration"].calib_persist_detect(rdf2, CAL)
    assert got.astype(bool).tolist() == calib["anomaly"].astype(bool).tolist()
    assert got.sum() > 0  # the 5-plateau during business hours is caught


def test_find_gaps_parity(spark, REF):
    ser = _series()
    cand_ts = ser.index[300]
    df = _spark_df(spark, ser)
    cands = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["s"], "candidate": [cand_ts]})
    )
    got = calibration.find_gaps(df, cands, hours=2).toPandas().iloc[0]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        gap, end = REF["calibration"].find_gap(ser, cand_ts, hours=2)
    assert abs(got["gap"] - gap) < 1e-12
    assert pd.Timestamp(got["end"]) == end


def test_drift_correct_parity(spark, REF):
    ser = _series(3)
    ev = pd.DataFrame(
        {
            "doc_id": ["s", "s"],
            "start": [ser.index[50], ser.index[200]],
            "end": [ser.index[200], ser.index[400]],
            "gap": [-1.2, 0.8],
        }
    )
    df = _spark_df(spark, ser)
    got = (
        calibration.drift_correct(df, spark.createDataFrame(ev))
        .orderBy("pos")
        .select("drift_cor")
        .toPandas()["drift_cor"]
        .to_numpy()
    )
    obs = ser.copy()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for _, r in ev.iterrows():
            _, obs = REF["calibration"].lin_drift_cor(obs, r["start"], r["end"], r["gap"], replace=True)
    np.testing.assert_allclose(got, obs.to_numpy(), atol=1e-9)


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
