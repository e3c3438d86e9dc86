"""Driver-contract regression: every queries() entry matches its oracle_sql()
on DuckDB at sf0.001 (the full sf0.01 sweep runs via tools/check_contract.py)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return c


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()

# The AUTHORITATIVE full-contract check is the driver's own per-round
# CORRECTNESS gate (and tools/check_contract.py locally); replaying all
# ~50 oracles here again cost ~95s of a 590s suite budget for pure
# redundancy. Default: one representative per gate family (sources,
# rollup+gapfill, rules, threshold, metrics, calibration, ARIMA, dedup,
# incremental dedup, sampling+PII, ANN, codecs, streaming). Set
# FULL_CONTRACT=1 to sweep everything (what check_contract does anyway).
_SMOKE = [
    "range_counts", "rollup_tiers", "dynamic_threshold", "point_metrics",
    "find_gaps", "ar11_residuals", "dedup_groups",
    "lang_stats", "doc_profile", "ann_topk", "comp_roundtrip",
    "streaming_detect", "simhash", "simhash_pairs",
]
import os as _os

_ORACLE_SET = (
    sorted(ORACLES)
    if _os.environ.get("FULL_CONTRACT")
    else [n for n in _SMOKE if n in ORACLES]
)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", _ORACLE_SET)
def test_query_matches_oracle(spark, con, name):
    mine = QUERIES[name](spark, SF).toPandas()
    theirs = con.execute(ORACLES[name]).df()
    assert sorted(mine.columns) == sorted(theirs.columns), name
    assert len(mine) == len(theirs), name
    pd.testing.assert_frame_equal(
        _norm(mine), _norm(theirs), check_dtype=False, check_exact=False, atol=1e-9
    )


def test_every_query_has_an_oracle():
    """No query is rows-only: each one is checked against its DuckDB oracle."""
    assert set(QUERIES) == set(ORACLES)


def test_coverage_md_query_count_in_sync():
    """COVERAGE.md's driver-contract count is pinned to queries() so the
    doc can't drift from the code (r2 shipped a stale 41/41)."""
    import os

    n = len(entrymod.queries())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "COVERAGE.md")).read()
    assert f"{n}/{n} queries" in text, f"COVERAGE.md out of sync with {n} queries"


def test_queries_rebuild_fresh_per_call(spark):
    """No memoized handles: repeated invocations return DISTINCT
    DataFrames (fresh shuffle ids, so a repeated timed run recomputes
    from parquet instead of reusing the previous action's shuffle files
    via DAGScheduler stage skipping — the r7 finding that killed the
    prepared-plan experiment)."""
    qs = entrymod.queries()
    for name in ("range_counts", "rollup_tiers", "simhash_pairs",
                 "dup_components", "text_quality"):
        fn = qs[name]
        a = fn(spark, SF)
        b = fn(spark, SF)
        assert a is not b, name
    assert qs["range_counts"](spark, SF).count() > 0


def test_gate_build_round_trips(spark, monkeypatch):
    """Driver build budget of the two widest gates, counted in py4j round
    trips with no action beyond the builds' own eager checkpoints. Their
    wide expression lists (histogram bins, the quantile fold, per-bit
    simhash sums, the simhash banding and pair enumeration) are built as
    SQL text, as are the rollup aggregates and the gap-fill windows, a
    handful of calls per list; a Column-API tree pays several round trips
    per node (~24k and ~14k per build). Measured 713–838 and 835–1,351 on
    sf0.001; the budgets add about 25%."""
    from py4j.clientserver import JavaClient

    calls = [0]
    send = JavaClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", counting)
    for name, budget in (("rollup_tiers", 1050), ("simhash_pairs", 1700)):
        calls[0] = 0
        QUERIES[name](spark, SF)
        assert calls[0] <= budget, (name, calls[0])


def test_rollup_tiers_runs_at_most_nine_jobs(spark):
    """One rollup_tiers call checkpoints its multi-tier cells once and
    reads all six row-sets from them: at most 9 Spark jobs under its own
    job group, the eager checkpoint included. Planning one histogram
    aggregation per direct tier and for the cascade ran 15."""
    sc = spark.sparkContext
    group = "rollup_tiers-job-count"
    sc.setJobGroup(group, group)
    try:
        QUERIES["rollup_tiers"](spark, SF).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n <= 9, n


@pytest.mark.parametrize("name", ["text_quality", "dup_keep_list"])
def test_query_leaves_no_cache_entry(spark, name):
    """A query call leaves nothing in Spark's CacheManager: a cached frame
    would be plan-matched into the next call, so a repeated timed run
    would read the first run's rows instead of computing from parquet.
    Intermediates a query shares within the call are local checkpoints.
    Other tests' fixtures cache their inputs, so start from an empty
    cache."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    QUERIES[name](spark, SF).count()
    assert cache.isEmpty(), name
