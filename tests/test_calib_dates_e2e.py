"""S4 end-to-end on the REAL MainStreet fixtures: load_calib_dates on the
actual `LRO_data/MainStreet_{ph,do,cond}_calib_dates.csv` files (BOM + title
line + CRLF), then the full FindCompareGaps flow — calib dates → find_gaps →
chained drift_correct — on MS2017.csv, engine vs the genuine reference
(`Examples/FindCompareGaps.py:45-121`)."""

import os
import warnings

import numpy as np
import pandas as pd
import pytest

from pyhydroqc_spark import sources
from pyhydroqc_spark.operators import calibration
from tests.reference_oracle import load_reference

LRO_DIR = "/root/reference/LRO_data"
MS2017 = f"{LRO_DIR}/MS2017.csv"
pytestmark = pytest.mark.skipif(not os.path.exists(MS2017), reason="LRO fixture absent")


@pytest.fixture(scope="module")
def REF():
    """The pyhydroqc reference modules; the tests here skip with this
    reason when the checkout is not importable."""
    try:
        return load_reference()
    except ImportError as e:
        pytest.skip(f"pyhydroqc reference checkout not importable: {e}")


def _pandas_calib(sensor: str) -> pd.DataFrame:
    # the reference's own reader: header on line 2 (FindCompareGaps.py:45-48)
    df = pd.read_csv(f"{LRO_DIR}/MainStreet_{sensor}_calib_dates.csv", header=1)
    df["start"] = pd.to_datetime(df["start"])
    df["end"] = pd.to_datetime(df["end"])
    return df


@pytest.mark.parametrize("sensor", ["ph", "do", "cond"])
def test_load_calib_dates_real_files(spark, sensor):
    got = (
        sources.load_calib_dates(spark, f"{LRO_DIR}/MainStreet_{sensor}_calib_dates.csv")
        .orderBy("start")
        .toPandas()
    )
    ref = _pandas_calib(sensor).sort_values("start").reset_index(drop=True)
    assert len(got) == len(ref) > 0
    np.testing.assert_array_equal(got["start"].values, ref["start"].values)
    np.testing.assert_array_equal(got["end"].values, ref["end"].values)
    np.testing.assert_allclose(
        got["gap"].to_numpy(dtype=float), ref["gap"].to_numpy(dtype=float), equal_nan=True
    )


@pytest.fixture(scope="module")
def ms_ph(spark, REF):
    """MS2017 ph series: engine-loaded Spark frame + the identical reference
    pandas series (ingest parity is separately tested in test_sources_lro)."""
    long_df = (
        sources.load_sensor_csv(spark, [MS2017], ["ph"], site="MainStreet")
        .withColumnRenamed("raw", "observed")
        .cache()
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref_arr = REF["anomaly_utilities"].get_data(
            ["ph"], filename="MS2017.csv", path=f"{LRO_DIR}/"
        )
    ser = ref_arr["ph"]["raw"].astype(float)
    ser.name = "observed"
    return long_df, ser


@pytest.fixture(scope="module")
def calib_2017(ms_ph):
    _, ser = ms_ph
    cd = _pandas_calib("ph")
    # keep events inside the data range, as the reference does
    # (FindCompareGaps.py:50-51)
    return cd[(cd["start"] > ser.index.min()) & (cd["end"] < ser.index.max())].reset_index(
        drop=True
    )


def test_find_gaps_parity_on_real_calib_dates(spark, REF, ms_ph, calib_2017):
    long_df, ser = ms_ph
    assert len(calib_2017) > 0
    cands = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": "MainStreet:ph", "candidate": calib_2017["end"].to_numpy()}
        )
    )
    got = (
        calibration.find_gaps(long_df, cands, hours=2)
        .orderBy("calib_date")
        .toPandas()
        .set_index("calib_date")
    )
    assert len(got) == len(calib_2017)
    for end_ts in calib_2017["end"]:
        ref_gap, ref_end = REF["calibration"].find_gap(ser, end_ts, hours=2)
        row = got.loc[end_ts]
        assert abs(row["gap"] - ref_gap) < 1e-9, end_ts
        assert pd.Timestamp(row["end"]) == ref_end, end_ts


def test_drift_correct_chain_parity_on_real_gaps(spark, REF, ms_ph, calib_2017):
    """Full FindCompareGaps drift loop: start_k = end_{k-1} (first −30 days),
    chained lin_drift_cor with replace=True (FindCompareGaps.py:110-121)."""
    long_df, ser = ms_ph
    gaps = pd.DataFrame(
        [
            REF["calibration"].find_gap(ser, end_ts, hours=2)
            for end_ts in calib_2017["end"]
        ],
        columns=["gap", "end"],
    ).sort_values("end")
    gaps["start"] = gaps["end"].shift(1)
    gaps.loc[gaps.index[0], "start"] = gaps["end"].iloc[0] - pd.Timedelta(days=30)

    # reference side: sequential in-place correction
    ref_ser = ser.copy()
    for _, ev in gaps.iterrows():
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            _, ref_ser = REF["calibration"].lin_drift_cor(
                observed=ref_ser, start=ev["start"], end=ev["end"], gap=ev["gap"], replace=True
            )

    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": "MainStreet:ph",
                "start": gaps["start"].to_numpy(),
                "end": gaps["end"].to_numpy(),
                "gap": gaps["gap"].to_numpy(dtype=float),
            }
        )
    )
    got = (
        calibration.drift_correct(long_df, events, value_col="observed")
        .orderBy("pos")
        .toPandas()
    )
    np.testing.assert_allclose(
        got["drift_cor"].to_numpy(),
        ref_ser.to_numpy(dtype=float),
        atol=1e-9,
        equal_nan=True,
    )
