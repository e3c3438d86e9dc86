"""Streaming incremental rollups: AvailableNow drain + cell-scoped merge
equals the one-shot batch rollup; resumes from checkpoint without double
counting; a micro-batch touching day D rewrites ONLY day D's partitions."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark import streaming
from pyhydroqc_spark.datagen import gen_token_table
from pyhydroqc_spark.ingest import explode_tokens
from pyhydroqc_spark.operators.rollup import rollup_points
from pyhydroqc_spark.tables import SnapshotTable


def _tok_schema():
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )
    return StructType([
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False),
    ])


def _read_agg(spark, out_dir):
    return SnapshotTable(os.path.join(out_dir, "agg")).read(spark)


def test_streaming_rollup_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    pdf = gen_token_table(n_series=4, n_tok=800, seed=1)
    first, second = pdf.iloc[:2], pdf.iloc[2:]
    spark.createDataFrame(first, schema=_tok_schema()).write.mode("append").parquet(in_dir)

    streaming.run_streaming_rollup(spark, in_dir, out_dir)
    agg1 = _read_agg(spark, out_dir)
    assert set(r["doc_id"] for r in agg1.select("doc_id").distinct().collect()) == set(
        first["doc_id"]
    )

    # second batch of files lands; rerun drains ONLY the new ones
    spark.createDataFrame(second, schema=_tok_schema()).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir)
    agg2 = (
        _read_agg(spark, out_dir)
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )

    # oracle: one-shot batch rollup over everything
    full = spark.createDataFrame(pdf, schema=_tok_schema())
    exp = (
        rollup_points(explode_tokens(full), 900, value_col="value")
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        agg2.reset_index(drop=True)[exp.columns], exp.reset_index(drop=True),
        check_dtype=False,
    )


def test_streaming_merge_rewrites_only_touched_days(spark, tmp_path):
    """The cell-scoped merge must leave untouched day-partitions' files
    byte-identical (same manifest entries), not rewrite the whole store."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    # batch 1: one series spanning ~8 days (800 tokens @ 15min cadence)
    pdf = gen_token_table(n_series=2, n_tok=800, seed=7)
    spark.createDataFrame(pdf, schema=_tok_schema()).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir)

    store = SnapshotTable(os.path.join(out_dir, "agg"))
    before = {
        p: set(store.files_for_partitions({p})) for p in store.partitions()
    }
    assert len(before) >= 3  # multi-day store

    # batch 2: a short series — 96 tokens = exactly the FIRST day only
    pdf2 = gen_token_table(n_series=1, n_tok=96, seed=11)
    pdf2["doc_id"] = "late-" + pdf2["doc_id"]
    spark.createDataFrame(pdf2, schema=_tok_schema()).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir)

    after = {p: set(store.files_for_partitions({p})) for p in store.partitions()}
    touched = {p for p in before if before[p] != after.get(p)}
    assert touched == {"2022-01-01"}, touched

    # and the merged store still equals the one-shot batch rollup
    full = pd.concat([pdf, pdf2], ignore_index=True)
    exp = (
        rollup_points(
            explode_tokens(spark.createDataFrame(full, schema=_tok_schema())),
            900,
            value_col="value",
        )
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )
    got = store.read(spark).orderBy("doc_id", "bucket_start").toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True)[exp.columns], exp.reset_index(drop=True),
        check_dtype=False,
    )


def test_late_data_same_bucket_cross_batch_merge(spark, tmp_path):
    """Late data for an EXISTING (doc, bucket): points arriving in a second
    micro-batch must fold into already-stored cells exactly as if all
    points arrived at once — the monoid-merge claim (streaming.py:13-16)
    for cnt/sum/avg AND the non-additive min/max, within one bucket, not
    just across days."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    # 1h buckets at 15min cadence -> 4 points per bucket; batch 1 covers
    # two full buckets, batch 2 re-delivers 4 more points for the FIRST
    # bucket (pos restarts at 0 -> same timestamps = same bucket)
    b1 = pd.DataFrame(
        {"doc_id": ["late-A"], "tokens": [[100, 900, 250, 400, 55, 66, 77, 88]],
         "n_tok": [8], "source": ["s1"]}
    )
    b2 = pd.DataFrame(
        {"doc_id": ["late-A"], "tokens": [[5000, 1, 300, 200]],
         "n_tok": [4], "source": ["s1"]}
    )
    spark.createDataFrame(b1, schema=_tok_schema()).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=3600)
    store = SnapshotTable(os.path.join(out_dir, "agg"))
    first = store.read(spark).orderBy("bucket_start").toPandas()
    assert first["cnt"].tolist() == [4, 4]

    spark.createDataFrame(b2, schema=_tok_schema()).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=3600)

    got = store.read(spark).orderBy("bucket_start").toPandas()
    full = pd.concat([b1, b2], ignore_index=True)
    exp = (
        rollup_points(
            explode_tokens(spark.createDataFrame(full, schema=_tok_schema())),
            3600,
            value_col="value",
        )
        .orderBy("bucket_start")
        .toPandas()
    )
    # bucket 0 now holds 8 points (4 original + 4 late), incl. new min/max
    assert got["cnt"].tolist() == [8, 4]
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True)[exp.columns], exp.reset_index(drop=True),
        check_dtype=False,
    )


def test_foreachbatch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch delivers at-least-once: a retried micro-batch (same
    batch id) must NOT fold into the cells twice. The batch id rides the
    atomic snapshot commit, so the replay is recognized and skipped."""
    agg_path = os.path.join(str(tmp_path), "agg")
    pdf = pd.DataFrame(
        {"doc_id": ["r-A"], "tokens": [[100, 200, 300, 400]],
         "n_tok": [4], "source": ["s1"]}
    )
    batch = explode_tokens(spark.createDataFrame(pdf, schema=_tok_schema()))

    assert streaming.merge_batch(batch, 0, agg_path, tier_seconds=3600) is True
    store = SnapshotTable(agg_path)
    once = store.read(spark).orderBy("bucket_start").toPandas()
    assert once["cnt"].tolist() == [4]

    # retry of the SAME batch id: skipped, store byte-identical
    assert streaming.merge_batch(batch, 0, agg_path, tier_seconds=3600) is False
    again = store.read(spark).orderBy("bucket_start").toPandas()
    pd.testing.assert_frame_equal(once, again)

    # the next real batch still applies
    assert streaming.merge_batch(batch, 1, agg_path, tier_seconds=3600) is True
    final = store.read(spark).orderBy("bucket_start").toPandas()
    assert final["cnt"].tolist() == [8]


def test_multi_tier_streaming_matches_batch(spark, tmp_path):
    """tier_seconds as a tuple maintains EVERY retention tier continuously:
    after two incremental drains, each agg_{t}s store equals the one-shot
    batch rollup at that tier (coarse tiers fold partials across batches)."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    tiers = (900, 3600, 86400)

    pdf = gen_token_table(n_series=3, n_tok=600, seed=13)
    b1, b2 = pdf.iloc[:2], pdf.iloc[2:]
    spark.createDataFrame(b1, schema=_tok_schema()).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=tiers)
    spark.createDataFrame(b2, schema=_tok_schema()).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=tiers)

    full = explode_tokens(spark.createDataFrame(pdf, schema=_tok_schema()))
    for t in tiers:
        got = (
            SnapshotTable(os.path.join(out_dir, f"agg_{t}s"))
            .read(spark).orderBy("doc_id", "bucket_start").toPandas()
        )
        exp = (
            rollup_points(full, t, value_col="value")
            .orderBy("doc_id", "bucket_start")
            .toPandas()
        )
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True)[exp.columns], exp.reset_index(drop=True),
            check_dtype=False,
        )


def test_retry_after_interleaved_commit_still_skipped(spark, tmp_path):
    """A non-stream commit (append / retention) between a batch commit and
    its retry carries no stream_batch_id; replay detection must walk the
    snapshot lineage, not just read the CURRENT snapshot, or the retry
    double-counts."""
    agg_path = os.path.join(str(tmp_path), "agg")
    pdf = pd.DataFrame(
        {"doc_id": ["i-A"], "tokens": [[10, 20, 30, 40]],
         "n_tok": [4], "source": ["s1"]}
    )
    batch = explode_tokens(spark.createDataFrame(pdf, schema=_tok_schema()))
    assert streaming.merge_batch(batch, 0, agg_path, tier_seconds=3600) is True

    store = SnapshotTable(agg_path)
    # interleaved maintenance commit with no stream metadata
    extra_row = store.read(spark).limit(1).withColumn("day", F.lit("9999-01-01"))
    store.append(extra_row, partition="9999-01-01")
    assert store.snapshot_extra().get("stream_batch_id") is None

    # retry of batch 0 after the interleaved commit: must still be skipped
    assert streaming.merge_batch(batch, 0, agg_path, tier_seconds=3600) is False
    cnts = (
        store.read(spark).where(F.col("day") != "9999-01-01")
        .orderBy("bucket_start").toPandas()["cnt"].tolist()
    )
    assert cnts == [4]


def test_drain_retention_drain_preserves_batch_lineage(spark, tmp_path):
    """r6: RETENTION between two drains must not break the streaming
    store's idempotence bookkeeping. drop_partitions commits a snapshot
    WITHOUT a stream_batch_id and expire_snapshots(keep_last=1) deletes
    the very manifest that carried it — the high-water mark must survive
    via the lineage carry-forward, so drain 2 applies exactly once
    (kept days = one-shot rollup of everything; dropped days come back
    with exactly drain-2's contribution) and a foreachBatch retry of an
    already-applied batch is STILL recognized after expiry."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    pdf = gen_token_table(n_series=4, n_tok=800, seed=3)
    first, second = pdf.iloc[:2], pdf.iloc[2:]
    spark.createDataFrame(first, schema=_tok_schema()).write.mode(
        "append"
    ).parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir)

    store = SnapshotTable(os.path.join(out_dir, "agg"))
    days = sorted(
        r["day"]
        for r in store.read(spark).select(
            F.date_format("bucket_start", "yyyy-MM-dd").alias("day")
        ).distinct().collect()
    )
    assert len(days) >= 4
    cutoff = days[len(days) // 2]
    # retention: drop aged day-partitions, then expire old snapshots —
    # the expiry DELETES the manifest that carried stream_batch_id=0
    store.drop_partitions(lambda d: d >= cutoff)
    store.expire_snapshots(keep_last=1)

    spark.createDataFrame(second, schema=_tok_schema()).write.mode(
        "append"
    ).parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir)

    got = (
        store.read(spark)
        .withColumn("day", F.date_format("bucket_start", "yyyy-MM-dd"))
        .orderBy("doc_id", "bucket_start")
        .toPandas()
    )

    def oracle(frame):
        return (
            rollup_points(
                explode_tokens(
                    spark.createDataFrame(frame, schema=_tok_schema())
                ),
                900, value_col="value",
            )
            .withColumn("day", F.date_format("bucket_start", "yyyy-MM-dd"))
            .orderBy("doc_id", "bucket_start")
            .toPandas()
        )

    exp_all, exp_second = oracle(pdf), oracle(second)
    cols = [c for c in exp_all.columns if c != "day"]
    # kept days: both drains folded exactly once
    pd.testing.assert_frame_equal(
        got[got.day >= cutoff][cols].reset_index(drop=True),
        exp_all[exp_all.day >= cutoff][cols].reset_index(drop=True),
        check_dtype=False,
    )
    # dropped days: re-materialized by drain 2 alone — no double-count of
    # drain-1 data (it was aged out), no skip of drain-2 data
    pd.testing.assert_frame_equal(
        got[got.day < cutoff][cols].reset_index(drop=True),
        exp_second[exp_second.day < cutoff][cols].reset_index(drop=True),
        check_dtype=False,
    )

    # the idempotence high-water mark survived retention + manifest expiry:
    # a retry of drain 2's batch id (1) must be recognized and skipped
    batch = explode_tokens(spark.createDataFrame(second, schema=_tok_schema()))
    assert streaming.merge_batch(
        batch, 1, os.path.join(out_dir, "agg"), tier_seconds=900
    ) is False
    # and the next real batch id still applies
    assert streaming.merge_batch(
        batch, 2, os.path.join(out_dir, "agg"), tier_seconds=900
    ) is True


def test_crash_between_tier_commits_self_heals(spark, tmp_path):
    """merge_batch_tiers writes every tier once but commits each tier's
    store separately; a crash between tier commits leaves tiers at
    different stream_batch_ids. On replay the per-store idempotent skip
    must make every tier converge to the one-shot result without
    double-counting the finished tier."""
    out_dir = str(tmp_path / "out")
    tiers = (900, 3600, 86400)
    pdf = gen_token_table(n_series=3, n_tok=600, seed=29)
    batch = explode_tokens(spark.createDataFrame(pdf, schema=_tok_schema()))

    # the per-store commit step of the shared multi-table commit
    real = SnapshotTable._replace
    calls = {"n": 0}

    def crash_after_first(self, new_files, replaced, extra=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between tier commits")
        return real(self, new_files, replaced, extra)

    SnapshotTable._replace = crash_after_first
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            streaming.merge_batch_tiers(batch, 0, out_dir, tiers)
    finally:
        SnapshotTable._replace = real

    # tier stores are now divergent: finest applied, the rest missing
    assert SnapshotTable(os.path.join(out_dir, "agg_900s")).read(spark) is not None
    assert SnapshotTable(os.path.join(out_dir, "agg_3600s")).read(spark) is None

    # foreachBatch redelivers the same batch id; finished tier skips,
    # unfinished tiers apply
    applied = streaming.merge_batch_tiers(batch, 0, out_dir, tiers)
    assert applied == 2  # 3600s and 86400s; 900s recognized as replay

    for t in tiers:
        got = (
            SnapshotTable(os.path.join(out_dir, f"agg_{t}s"))
            .read(spark).orderBy("doc_id", "bucket_start").toPandas()
        )
        exp = (
            rollup_points(batch, t, value_col="value")
            .orderBy("doc_id", "bucket_start").toPandas()
        )
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True)[exp.columns], exp.reset_index(drop=True),
            check_dtype=False,
        )


def _detect_batch_oracle(spark, pdf, mx, mn, plen):
    from pyhydroqc_spark.operators import rules

    # NaN in the pandas frame stands for a MISSING value: hand the batch
    # operators a genuine NULL (Spark's NaN ordering would otherwise call
    # NaN > max_range true, which is not the missing-value semantics)
    recs = [
        (d, int(p), None if pd.isna(v) else float(v))
        for d, p, v in pdf.itertuples(index=False, name=None)
    ]
    df = spark.createDataFrame(recs, "doc_id string, pos bigint, value double")
    out = rules.persistence(
        rules.range_check(df, mx, mn), plen, key="doc_id", order="pos"
    )
    return (
        out.select("doc_id", "pos", "value", "anomaly")
        .toPandas()
        .sort_values(["doc_id", "pos"])
        .reset_index(drop=True)
    )


def test_stateful_streaming_detect_matches_batch_across_drains(spark, tmp_path):
    """applyInPandasWithState QC: two AvailableNow drains over chunked
    series — with persistence runs deliberately STRADDLING the drain
    boundary — must produce exactly the batch operator's flags on the
    concatenated series. The open-run buffer lives in checkpointed state;
    a row at the reserved flush position per series (out-of-band
    sentinel) flushes the final open run, and a genuine NULL value mid-
    series is kept with anomaly=false while breaking the repeat chain —
    exactly the batch operators' NULL semantics."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark import streaming

    rng = np.random.default_rng(17)
    MX, MN, PLEN = 8.0, -8.0, 4
    rows = []
    for s in range(6):
        vals = list(np.round(rng.normal(0, 3, 40), 1))
        # plant a 7-long equal run straddling pos 45..51 (drain splits at 50)
        vals += [5.5] * 7
        # a short run (length 3 -> 2 repeats < PLEN) also straddling
        vals += list(np.round(rng.normal(0, 3, 3), 1)) + [2.2] * 3
        vals += list(np.round(rng.normal(0, 3, 12), 1))
        # an out-of-range spike
        vals[10] = 99.0
        # a genuine missing value INSIDE an equal stretch: 3.3 3.3 NULL
        # 3.3 3.3 — the NULL must break the chain (no persist group) and
        # come back as a kept row with anomaly=false
        vals[20:25] = [3.3, 3.3, float("nan"), 3.3, 3.3]
        rows.extend((f"s{s}", i, float(v)) for i, v in enumerate(vals))
    pdf = pd.DataFrame(rows, columns=["doc_id", "pos", "value"])

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    split = 50
    spark.createDataFrame(
        pdf[pdf.pos < split], "doc_id string, pos bigint, value double"
    ).write.mode("append").parquet(in_dir)
    streaming.run_streaming_detect(
        spark, in_dir, out_dir, MX, MN, PLEN, flush_pos=10_000
    )

    # second drain: the rest of every series + an out-of-band flush row
    tail = pdf[pdf.pos >= split].copy()
    sentinels = pd.DataFrame(
        {"doc_id": [f"s{s}" for s in range(6)],
         "pos": [10_000] * 6, "value": [float("nan")] * 6}
    )
    spark.createDataFrame(
        pd.concat([tail, sentinels]), "doc_id string, pos bigint, value double"
    ).write.mode("append").parquet(in_dir)
    streaming.run_streaming_detect(
        spark, in_dir, out_dir, MX, MN, PLEN, flush_pos=10_000
    )

    got = (
        spark.read.parquet(str(tmp_path / "out" / "flags"))
        .toPandas()
        .sort_values(["doc_id", "pos"])
        .reset_index(drop=True)
    )
    exp = _detect_batch_oracle(spark, pdf, MX, MN, PLEN)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(
        got[["doc_id", "pos", "anomaly"]], exp[["doc_id", "pos", "anomaly"]]
    )
    # the straddling 7-run must actually be flagged (6 repeats >= 4) and
    # the short straddling 3-run must not (2 repeats < 4)
    s0 = got[got.doc_id == "s0"].set_index("pos")["anomaly"]
    assert s0.loc[41:46].all()          # repeats of the long run
    assert not s0.loc[40]               # head of the run is never flagged
    assert not s0.loc[51:52].any()      # short run's repeats unflagged
    # NULL row kept, unflagged, and it broke the 3.3-chain around it
    assert not s0.loc[20:24].any()
    g0 = got[got.doc_id == "s0"].set_index("pos")["value"]
    assert np.isnan(g0.loc[22])
