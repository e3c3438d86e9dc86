"""PII scrub (textops/pii.py) and deterministic sampling (textops/sample.py)."""

import pandas as pd
import pytest

from pyhydroqc_spark.textops import pii, sample


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (0, "mail me at a.b-c%d+e@foo-bar.example.com or x@y.io thanks"),
        (1, "server 10.0.0.1 and 192.168.255.254, also 1.2.3.4.5"),
        (2, "call +1 555 010 4242 or +44-207-946-0958"),
        (3, "ssn 123-45-6789 and not-ssn 12-345-6789 or 123-45-67890"),
        (4, "clean text with no identifiers at all"),
        (5, "mixed: bob@corp.io from 172.16.0.9, dial +1 800 555 0100, id 987-65-4321"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_pii_counts(spark, pii_docs):
    """scrub's per-family audit counts, one column per PII family."""
    cols = ["n_email", "n_ipv4", "n_phone", "n_ssn"]
    out = pii.scrub(pii_docs).toPandas().set_index("doc_id").sort_index()[cols]
    assert out.loc[0].tolist() == [2, 0, 0, 0]
    # 1.2.3.4.5: the first 4 octets match (audit-pass semantics)
    assert out.loc[1].tolist() == [0, 3, 0, 0]
    assert out.loc[2].tolist() == [0, 0, 2, 0]
    assert out.loc[3].tolist() == [0, 0, 0, 1]
    assert out.loc[4].tolist() == [0, 0, 0, 0]
    assert out.loc[5].tolist() == [1, 1, 1, 1]


def test_redact_and_scrub(spark, pii_docs):
    # scrub keeps every other column, rewrites text in place, adds counts
    scr = pii.scrub(pii_docs).toPandas().set_index("doc_id")
    assert scr.loc[4, "text"] == "clean text with no identifiers at all"
    assert (
        scr.loc[5, "text"]
        == "mixed: <PII_EMAIL> from <PII_IPV4>, dial <PII_PHONE>, id <PII_SSN>"
    )
    assert scr.loc[5, ["n_email", "n_ipv4", "n_phone", "n_ssn"]].tolist() == [1, 1, 1, 1]


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(600),
            "lang": ["en", "de", "fr"] * 200,
            "n_chars": [(37 * i) % 400 + 20 for i in range(600)],
        }
    )
    return spark.createDataFrame(pdf)


def test_hash_sample_deterministic_split(spark, corpus):
    a = sorted(r.doc_id for r in sample.hash_sample(corpus, 0.3).select("doc_id").collect())
    b = sorted(r.doc_id for r in sample.hash_sample(corpus, 0.3).select("doc_id").collect())
    assert a == b and 0 < len(a) < 600
    # complement is the exact holdout
    hold = sorted(
        r.doc_id
        for r in corpus.where(
            sample._u01(corpus.doc_id, "s0") >= 0.3
        ).select("doc_id").collect()
    )
    assert sorted(a + hold) == list(range(600))
    with pytest.raises(ValueError):
        sample.hash_sample(corpus, 1.5)


def test_stratified_prefilter_exact(spark, corpus):
    on = sample.stratified_sample(corpus, 25, "lang", prefilter=True).toPandas()
    off = sample.stratified_sample(corpus, 25, "lang", prefilter=False).toPandas()
    key = ["lang", "doc_id"]
    assert sorted(map(tuple, on[key].values)) == sorted(map(tuple, off[key].values))
    assert (on.groupby("lang").size() == 25).all()
    # n larger than a group: the whole group comes back (thr==1 branch)
    small = corpus.where("doc_id < 9")
    allrows = sample.stratified_sample(small, 100, "lang").toPandas()
    assert len(allrows) == 9


def test_token_budget_prefilter_exact(spark, corpus):
    on = sample.token_budget_sample(corpus, 1500.0, "n_chars", "lang").toPandas()
    off = sample.token_budget_sample(
        corpus, 1500.0, "n_chars", "lang", prefilter=False
    ).toPandas()
    key = ["lang", "doc_id"]
    assert sorted(map(tuple, on[key].values)) == sorted(map(tuple, off[key].values))
    g = on.groupby("lang")["n_chars"].sum()
    # every group reaches the budget and overshoots by less than one doc
    assert (g >= 1500).all() and (g < 1500 + 420).all()
    # budget larger than any group's total: everything selected
    full = sample.token_budget_sample(corpus, 10**9, "n_chars", "lang").toPandas()
    assert len(full) == 600


def test_incremental_dedup_matches_oneshot(spark, tmp_path):
    """Three id-ordered batches through a persisted store (REOPENED from
    disk between batches) decide identically to a one-shot pass; the
    id-order contract raises."""
    from pyspark.sql import functions as F

    from pyhydroqc_spark.textops import dedup, incremental

    rows = []
    for i in range(90):
        words = [f"w{(7 * i + j * j) % 53}" for j in range(30)]
        if i % 9 == 4:  # near-dup of i-1: one word changed
            words = [f"w{(7 * (i - 1) + j * j) % 53}" for j in range(30)]
            words[0] = "CHANGED"
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    sig = dedup.minhash_signatures(docs, num_perm=32)
    cand = dedup.minhash_candidates(sig, bands=8)
    ver = (
        cand.join(sig.select(F.col("id").alias("id_a"), F.col("signature").alias("sa")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("signature").alias("sb")), "id_b")
        .where(
            F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v))
            / 32.0
            >= 0.5
        )
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    oneshot = sorted(
        tuple(r)
        for r in sig.select("id")
        .join(ver.withColumnRenamed("id_b", "id"), "id", "left")
        .select("id", F.col("dup_of").isNull().alias("keep"), "dup_of")
        .collect()
    )
    assert any(not r[1] for r in oneshot)  # planted dups really drop

    root = str(tmp_path / "store")
    got = []
    for lo, hi in [(0, 30), (30, 60), (60, 90)]:
        store = incremental.DedupStore(root)  # reopen: state is on disk
        d = incremental.incremental_dedup(
            docs.where(f"doc_id >= {lo} AND doc_id < {hi}"), store
        )
        got.extend(tuple(r) for r in d.collect())
    assert sorted(got) == oneshot
    with pytest.raises(ValueError, match="id-ordered"):
        incremental.incremental_dedup(docs.where("doc_id < 5"), incremental.DedupStore(root))
