"""End-to-end parity on the REAL Logan River Observatory fixture
(`/root/reference/LRO_data/FB2017.csv`): engine CSV ingest + rules QC vs the
reference's get_data + rules_detect on the same file."""

import os
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark import sources
from pyhydroqc_spark.operators import rules
from tests.reference_oracle import load_reference

LRO = "/root/reference/LRO_data/FB2017.csv"
pytestmark = pytest.mark.skipif(not os.path.exists(LRO), reason="LRO fixture absent")


@pytest.fixture(scope="module")
def REF():
    """The pyhydroqc reference modules; the tests here skip with this
    reason when the checkout is not importable."""
    try:
        return load_reference()
    except ImportError as e:
        pytest.skip(f"pyhydroqc reference checkout not importable: {e}")

# FranklinBasin temp-sensor QC knobs (reference parameters.py:72-79 semantics)
MAXR, MINR, PERSIST = 13.0, -2.0, 30


@pytest.fixture(scope="module")
def lro_long(spark):
    return sources.load_sensor_csv(spark, [LRO], ["temp", "cond", "ph", "do"], site="FB").cache()


@pytest.fixture(scope="module")
def ref_arrays(REF):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return REF["anomaly_utilities"].get_data(
            ["temp", "cond", "ph", "do"], filename="FB2017.csv",
            path="/root/reference/LRO_data/",
        )


def test_ingest_matches_get_data(lro_long, ref_arrays):
    got = lro_long.orderBy("sensor", "pos").toPandas()
    for snsr in ["temp", "cond", "ph", "do"]:
        mine = got[got.sensor == snsr].reset_index(drop=True)
        ref = ref_arrays[snsr]
        assert len(mine) == len(ref)
        np.testing.assert_array_equal(
            pd.DatetimeIndex(mine["ts"]).values, ref.index.values
        )
        np.testing.assert_allclose(
            mine["raw"].to_numpy(), ref["raw"].to_numpy(dtype=float), atol=0, equal_nan=True
        )
        # FB2017 carries no _cor/_qual columns
        assert mine["cor"].isna().all()
        assert not mine["labeled_anomaly"].any()


def test_rules_qc_parity_on_real_data(REF, lro_long, ref_arrays):
    temp = lro_long.where(F.col("sensor") == "temp").withColumnRenamed("raw", "value")
    out = rules.interpolate(
        rules.persistence(rules.range_check(temp, MAXR, MINR), PERSIST)
    )
    got = out.orderBy("pos").select("anomaly", "observed").toPandas()

    rdf = ref_arrays["temp"].copy()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rdf, rc = REF["rules_detect"].range_check(rdf, MAXR, MINR)
        rdf, pc = REF["rules_detect"].persistence(rdf, PERSIST)
        rdf = REF["rules_detect"].interpolate(rdf)
    assert got["anomaly"].astype(bool).tolist() == rdf["anomaly"].astype(bool).tolist()
    np.testing.assert_allclose(
        got["observed"].to_numpy(), rdf["observed"].to_numpy(), atol=1e-9, equal_nan=True
    )
    # sanity: the real data does contain rule violations
    assert got["anomaly"].sum() > 0
