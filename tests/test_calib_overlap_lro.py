"""J3+W6+W7 driven TOGETHER on real LRO data: the full multi-sensor
calibration workflow — per-sensor persist candidates → event widening →
calib_overlap AND across FB2017's temp/cond/ph → find_gap on the overlap
dates → chained lin_drift_cor — engine vs the genuine reference
(`calibration.py:54-141`, `Examples/FindCompareGaps.py:110-121`) on the
same frames."""

import os
import warnings
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark import sources
from pyhydroqc_spark.operators import calibration, events, rules
from pyhydroqc_spark.params import CalibParams
from tests.reference_oracle import load_reference

LRO_DIR = "/root/reference/LRO_data"
FB2017 = f"{LRO_DIR}/FB2017.csv"
pytestmark = pytest.mark.skipif(not os.path.exists(FB2017), reason="LRO fixture absent")

SENSORS = ["temp", "cond", "ph"]
CAL = CalibParams()  # hour 7-17, persist group length 3-7 (parameters.py:23-34)


@pytest.fixture(scope="module")
def REF():
    """The pyhydroqc reference modules; the tests here skip with this
    reason when the checkout is not importable."""
    try:
        return load_reference()
    except ImportError as e:
        pytest.skip(f"pyhydroqc reference checkout not importable: {e}")


@pytest.fixture(scope="module")
def fb(spark, REF):
    long_df = (
        sources.load_sensor_csv(spark, [FB2017], SENSORS, site="FB")
        .withColumn("observed", F.col("raw"))
        .cache()
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref_arr = REF["anomaly_utilities"].get_data(
            SENSORS, filename="FB2017.csv", path=f"{LRO_DIR}/"
        )
    return long_df, ref_arr


@pytest.fixture(scope="module")
def ref_overlap(REF, fb):
    """Reference side: rules persistence (persist_grp) per sensor, then the
    genuine calib_overlap across all three."""
    _, ref_arr = fb
    input_array = {}
    for s in SENSORS:
        df = ref_arr[s].copy()
        df["observed"] = df["raw"].astype(float)
        df["anomaly"] = False
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            df, _ = REF["rules_detect"].persistence(df, 10**9, output_grp=True)
        input_array[s] = df
    cal_ns = SimpleNamespace(
        persist_low=CAL.persist_low,
        persist_high=CAL.persist_high,
        hour_low=CAL.hour_low,
        hour_high=CAL.hour_high,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        _, _, df_all, overlap_dates = REF["calibration"].calib_overlap(
            SENSORS, input_array, cal_ns
        )
    return df_all, overlap_dates


def test_calib_overlap_parity_fb2017(spark, fb, ref_overlap):
    """Engine overlap (persist_candidates → anomaly_events wf=1 → AND
    across sensors) equals the reference's calib_overlap on FB2017."""
    long_df, _ = fb
    _, ref_dates = ref_overlap

    # engine chain per sensor rides the SAME long frame, partitioned on
    # doc_id = FB:<sensor>
    flagged = rules.persistence(
        long_df.withColumn("anomaly", F.lit(False)),
        F.lit(10**9),  # persistence-anomaly length irrelevant here
        value_col="observed",
        output_grp=True,
    )
    cands = calibration.persist_candidates(flagged, CAL)
    ev = events.anomaly_events(cands, "calib_flag", wf=1, out_col="calib_event")
    got = (
        calibration.overlap(
            ev.withColumn("in_event", F.col("calib_event") != 0),
            sensor_col="sensor",
            flag_col="in_event",
            key="source",
            order="ts",
        )
        .where(F.col("all_calib"))
        .select("ts")
        .toPandas()["ts"]
    )
    got_set = set(pd.to_datetime(got))
    ref_set = set(pd.to_datetime(ref_dates))
    assert len(ref_set) > 0, "fixture should produce overlap dates"
    assert got_set == ref_set


def test_overlap_to_gap_to_drift_chain_fb2017(spark, REF, fb, ref_overlap):
    """The full workflow tail: collapse overlap runs to one candidate each,
    find_gap(hours=2) per candidate, then chained lin_drift_cor — engine vs
    sequential reference. The overlap-parity test above covers all three
    sensors; the chain runs on ONE (cond — the longest event chain, the
    case that exposed the O(rows × events) drift_correct plan) to keep the
    suite inside the driver's wall budget."""
    long_df, ref_arr = fb
    _, ref_dates = ref_overlap
    ts = pd.DatetimeIndex(sorted(pd.to_datetime(ref_dates)))
    assert len(ts) > 0
    # one candidate per contiguous 15-min run: the run's last timestamp
    run_id = np.cumsum(
        np.r_[0, (np.diff(ts.view("i8")) > 15 * 60 * 1_000_000_000).astype(int)]
    )
    cand_ts = pd.Series(ts).groupby(run_id).max()

    for s in ["cond"]:
        ser = ref_arr[s]["raw"].astype(float)
        ser.name = "observed"
        sdf = long_df.where(F.col("sensor") == s)

        # candidates that leave room for the ±2h window on both ends
        usable = [
            t for t in cand_ts
            if t - pd.Timedelta(hours=26) > ser.index.min()
            and t + pd.Timedelta(hours=2) < ser.index.max()
        ]
        assert usable
        cands = spark.createDataFrame(
            pd.DataFrame({"doc_id": f"FB:{s}", "candidate": usable})
        )
        got_gaps = (
            calibration.find_gaps(sdf, cands, hours=2)
            .orderBy("calib_date")
            .toPandas()
            .set_index("calib_date")
        )
        ref_gaps = []
        for t in usable:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                g, end = REF["calibration"].find_gap(ser, t, hours=2)
            ref_gaps.append((t, g, end))
            row = got_gaps.loc[t]
            assert abs(row["gap"] - g) < 1e-9, (s, t)
            assert pd.Timestamp(row["end"]) == end, (s, t)

        # chain: start_k = end_{k-1}, first start 30 days before its end —
        # snapped to an actual index member at/after the nominal start
        # (reference lin_drift_cor indexes with get_loc(start), which
        # KeyErrors on any timestamp not literally in the series; FB2017's
        # first event - 30d predates the data)
        chain = (
            pd.DataFrame(ref_gaps, columns=["cand", "gap", "end"])
            .sort_values("end")
            # two candidates can resolve to the same shifted end; a chain
            # event with start == end is degenerate (reference divides by
            # len-1) — keep one event per distinct end
            .drop_duplicates(subset="end")
            .reset_index(drop=True)
        )
        chain["start"] = chain["end"].shift(1)
        nominal = chain["end"].iloc[0] - pd.Timedelta(days=30)
        snapped = ser.index[ser.index.searchsorted(nominal)]
        chain.loc[chain.index[0], "start"] = snapped

        ref_ser = ser.copy()
        for _, evrow in chain.iterrows():
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                _, ref_ser = REF["calibration"].lin_drift_cor(
                    observed=ref_ser,
                    start=evrow["start"],
                    end=evrow["end"],
                    gap=evrow["gap"],
                    replace=True,
                )
        ev_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": f"FB:{s}",
                    "start": chain["start"].to_numpy(),
                    "end": chain["end"].to_numpy(),
                    "gap": chain["gap"].to_numpy(dtype=float),
                }
            )
        )
        got = (
            calibration.drift_correct(sdf, ev_df, value_col="observed")
            .orderBy("pos")
            .toPandas()
        )
        np.testing.assert_allclose(
            got["drift_cor"].to_numpy(),
            ref_ser.to_numpy(dtype=float),
            atol=1e-9,
            equal_nan=True,
        )
