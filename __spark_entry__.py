"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry runs a pyhydroqc_spark engine operator (SURVEY.md
§2) over the driver's parquet tables; ``oracle_sql()`` holds the equivalent
ANSI SQL for DuckDB. Column names/types are aligned on both sides (floats
rounded to 6dp; ids/counters cast to BIGINT; buckets as epoch seconds).

The events table plays the role of raw sensor observations: series key =
user_id, ordered by (ts, event_id). Out-of-range band for QC checks:
value > 400 or value < 5.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyhydroqc_spark.stats import z_for_alpha

MAXR, MINR = 400.0, 5.0
Z_05 = z_for_alpha(0.05)  # 1.959963984540054

BASE_SQL = """
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS pos,
         ts, value
  FROM events
)
"""


def _events_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").cast("string").alias("doc_id"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        "ts",
        "value",
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file parquet = one input split; spread rows across cores before
    # the heavy per-row hash/HOF expressions (narrow data, cheap shuffle)
    n = spark.sparkContext.defaultParallelism
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(n)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = spark.sparkContext.defaultParallelism
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(n)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tokenize the events stream into the canonical token table,
    explode, run rules QC (range + persistence + interpolate), roll up the
    QC'd series to the 15-minute tier."""
    from pyhydroqc_spark.ingest import explode_tokens, tokenize_long_table
    from pyhydroqc_spark.operators import rollup, rules

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tok = tokenize_long_table(ev, "user_id", "ts", "value", lo=0.0, hi=500.0)
    long_df = explode_tokens(tok, lo=0.0, hi=500.0)
    qc = rules.range_check(long_df, MAXR, MINR)
    qc = rules.persistence(qc, 3, value_col="value")
    qc = rules.interpolate(qc)
    return rollup.rollup_points(qc, 900, value_col="observed")


# --------------------------------------------------------------------------
# queries — engine operators over the driver tables
# --------------------------------------------------------------------------

def q_range_counts(spark, sf_dir):
    from pyhydroqc_spark.operators import rules

    df = rules.range_check(_events_long(spark, sf_dir), MAXR, MINR)
    return df.groupBy("doc_id").agg(
        F.count("*").alias("n_points"),
        F.sum(F.col("anomaly").cast("long")).alias("n_anomalies"),
    )


def q_max_anomaly_run(spark, sf_dir):
    from pyhydroqc_spark.operators import rules

    df = rules.range_check(_events_long(spark, sf_dir), MAXR, MINR)
    out = rules.group_size(df)
    return out.select("doc_id", F.col("max_run_len").cast("long").alias("max_run_len"))


def q_persistence_counts(spark, sf_dir):
    from pyhydroqc_spark.operators import rules

    df = _events_long(spark, sf_dir).withColumn("vq", F.round(F.col("value") / 50))
    df = df.withColumn("anomaly", F.lit(False))
    out = rules.persistence(df, 3, value_col="vq", output_grp=True)
    return out.groupBy("doc_id").agg(
        F.sum((F.col("persist_grp") > 0).cast("long")).alias("persist_points"),
        F.sum(F.col("anomaly").cast("long")).alias("flagged_points"),
    )


def q_interpolated(spark, sf_dir):
    from pyhydroqc_spark.operators import rules

    df = rules.range_check(_events_long(spark, sf_dir), MAXR, MINR)
    out = rules.interpolate(df)
    return out.select("doc_id", "pos", F.round("observed", 6).alias("observed"))


def q_dynamic_threshold(spark, sf_dir):
    from pyhydroqc_spark.operators import threshold

    df = _events_long(spark, sf_dir).withColumnRenamed("value", "residual")
    out = threshold.dynamic_threshold(df, "residual", window_sz=30, alpha=0.05, min_range=1.0)
    return out.select(
        "doc_id", "pos", F.round("low", 6).alias("low"), F.round("high", 6).alias("high")
    )


def q_threshold_detect_counts(spark, sf_dir):
    from pyhydroqc_spark.operators import threshold

    df = _events_long(spark, sf_dir).withColumnRenamed("value", "residual")
    out = threshold.dynamic_threshold(df, "residual", window_sz=30, alpha=0.05, min_range=1.0)
    out = threshold.detect_threshold_anomalies(out, "residual")
    return out.groupBy("doc_id").agg(
        F.sum(F.col("detected_anomaly").cast("long")).alias("n_detected")
    )


def q_anomaly_events(spark, sf_dir):
    from pyhydroqc_spark.operators import events, rules

    df = rules.range_check(_events_long(spark, sf_dir), MAXR, MINR)
    out = events.anomaly_events(df, "anomaly", wf=1)
    return out.select("doc_id", "pos", F.col("event_id").cast("long").alias("event_id"))


def q_group_bools(spark, sf_dir):
    from pyhydroqc_spark.operators import events, rules

    df = rules.range_check(_events_long(spark, sf_dir), MAXR, MINR)
    out = events.group_bools(df, "anomaly", "group_id")
    return out.select("doc_id", "pos", F.col("group_id").cast("long").alias("group_id"))


HIST = (32, -5.0, 30.0)  # (bins, lo, hi) — the composable sketch domain


# the rollup row-sets' shared output columns as SQL text: one selectExpr
# per row-set instead of several py4j round trips per Column node. The
# row-sets group on raw user_id (the checkpoint's partitioning key) and
# project the string doc_id back here — same values as grouping on the
# cast.
_ROLLUP_SCALARS = (
    "CAST(`user_id` AS STRING) AS doc_id",
    "CAST(unix_timestamp(`bucket_start`) AS BIGINT) AS bucket_s",
    "CAST(`cnt` AS BIGINT) AS cnt",
    "round(`sum_val`, 6) AS sum_val",
    "round(`avg_val`, 6) AS avg_val",
    "round(`min_val`, 6) AS min_val",
    "round(`max_val`, 6) AS max_val",
)


# the direct row-sets' labels, read from the multi-tier cells' seconds
_TIER_LABEL = "CASE `tier` WHEN 900 THEN '15min' WHEN 3600 THEN '1h' WHEN 86400 THEN '1d' END"


def _rollup_gate_cols(agg_with_stats, tier):
    """A tier row-set's output columns; ``tier`` is its label as SQL text."""
    return agg_with_stats.selectExpr(
        *_ROLLUP_SCALARS,
        "round(`open_val`, 6) AS open_val",
        "round(`close_val`, 6) AS close_val",
        "round(`counter_delta`, 6) AS counter_delta",
        "hist_checksum",
        "p50_bin",
        "p95_bin",
        f"{tier} AS tier",
        "false AS is_gap",
    )


def _rollup_cells(spark, sf_dir):
    """The gate's (15min, 1h, 1d) cells — scalars, OHLC, counter delta
    and the percentile sketch — from ONE multi-tier aggregation of the
    windowed events."""
    from pyhydroqc_spark.operators import rollup

    # pos AND the counter increment in ONE window pass: lag() rides the
    # same (user_id; ts, event_id) exchange+sort as row_number(). RAW
    # user_id is the grouping key: the row-sets group on the 8-byte long
    # and project the string doc_id back after aggregation — narrower
    # exchanges (guide §2.3) and cheaper hashing than the string cast —
    # and the window's hashpartitioning(user_id) already clusters the
    # (user_id, tier, bucket) aggregation, so it needs no exchange.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    long_inc = ev.select(
        "user_id",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        "ts",
        "value",
        rollup.counter_increment_expr(F.col("value"), F.lag("value").over(w)).alias(
            "increment"
        ),
    )
    return rollup.rollup_points(
        long_inc, (900, 3600, 86400), value_col="value", hist=HIST, order_col="pos",
        sum_cols={"increment": "counter_delta"}, key="user_id",
    )


def q_rollup_tiers(spark, sf_dir):
    """ALL retention tiers in one driver gate: direct 15min/1h/1d rollups
    plus the 1h→1d tiered cascade (rollup_from_rollup — must equal the
    direct 1d), unioned under a ``tier`` label so every tier's values are
    hash-checked independently. Consolidates the four r4 gates
    rollup_15min/1h/1d/tiered_1d into one queries() slot (the driver
    artifact caps near 50 entries — see CHANGES_r05.md).

    ONE checkpointed frame of multi-tier cells feeds all six row-sets:
    the three direct tiers are one ``hist_stats`` projection of it, the
    cascade re-aggregates its 1h cells, and the two gap-fill row-sets
    densify its 1d and 1h scalars. The wide histogram aggregation is
    therefore planned, generated and compiled once per invocation. At
    corpus scale you would not aggregate every tier from facts; the
    pipeline's tier-from-tier cascade (rollup_from_rollup) scans them
    once instead."""
    from pyhydroqc_spark.operators import rollup

    # localCheckpoint, NOT persist: a persisted frame is plan-matched by
    # Spark's CacheManager into EVERY other query that derives the same
    # subtree (ar1_residuals' audited no-persist contract broke from a
    # cache created here); a LogicalRDD is a distinct plan that nothing
    # else can silently substitute.
    #
    # Materialized EAGERLY and deliberately NOT memoized across
    # invocations: every call rebuilds the cells from events.parquet, so
    # a repeated gate run (e.g. the bench's min-of-2) pays the scan,
    # window and aggregation each time. The checkpoint's only job is
    # WITHIN-invocation sharing, and it sits AFTER the aggregation:
    # Catalyst pushes a filter on a grouping key (``tier``) below the
    # aggregate, so any split of an un-materialized multi-tier frame
    # would plan — and compile — the wide 32-bin aggregation once per
    # consumer again.
    cells = _rollup_cells(spark, sf_dir).localCheckpoint(eager=True)
    direct = _rollup_gate_cols(rollup.hist_stats(cells), _TIER_LABEL)
    # the sketch composes through the cascade (rollup_from_rollup sums
    # the 1h histograms elementwise): composed 1d stats must hash-match
    # the direct 1d row-set — the driver-checked mergeability proof
    d1 = rollup.rollup_from_rollup(
        cells.where("tier = 3600").drop("tier"), 86400,
        sum_cols=("counter_delta",), key="user_id",
    )
    tiered = _rollup_gate_cols(rollup.hist_stats(d1), "'tiered_1d'")
    # the gap-fill READ operators (time_bucket_gapfill / locf /
    # interpolate analogues): the dense 1d grid with the default fills
    # (cnt/sum→0, stats interpolated in bucket time), and a 6-series 1h
    # grid exercising every strategy at once (locf avg, interpolated min,
    # NULL-densified max). is_gap marks the synthesized rows, hash-checked
    # like all else.
    scalars = ("user_id", "bucket_start", "cnt", "sum_val", "avg_val", "min_val", "max_val")
    gf_1d = rollup.gapfill(cells.where("tier = 86400").select(*scalars), 86400, key="user_id")
    gf_1h = rollup.gapfill(
        cells.where("tier = 3600 AND user_id % 25 = 0").select(*scalars),
        3600,
        key="user_id",
        fill={
            "cnt": "zero",
            "sum_val": "zero",
            "avg_val": "locf",
            "min_val": "interpolate",
            "max_val": "null",
        },
    )
    return (
        direct.unionByName(tiered)
        .unionByName(_gapfill_parts(gf_1d, "gapfill_1d"))
        .unionByName(_gapfill_parts(gf_1h, "gapfill_1h_s25"))
    )


def _gapfill_parts(gf, tier):
    return gf.selectExpr(
        *_ROLLUP_SCALARS,
        "is_gap",
        # sketch/OHLC columns ride only the tier row-sets (a synthesized
        # gap bucket has no histogram or first/last value)
        "CAST(NULL AS DOUBLE) AS open_val",
        "CAST(NULL AS DOUBLE) AS close_val",
        "CAST(NULL AS DOUBLE) AS counter_delta",
        "CAST(NULL AS BIGINT) AS hist_checksum",
        "CAST(NULL AS INT) AS p50_bin",
        "CAST(NULL AS INT) AS p95_bin",
        f"'{tier}' AS tier",
    )


def q_edge_filter(spark, sf_dir):
    from pyhydroqc_spark.operators import calibration

    df = _events_long(spark, sf_dir).withColumnRenamed("value", "observed")
    out = calibration.edge_filter(df, 4)
    return out.select("doc_id", "pos", F.round("edge_diff", 6).alias("edge_diff"))


def q_business_hours(spark, sf_dir):
    """Per-series time-predicate counts + the r6-session-4 time-ordered
    operators: an AS-OF JOIN (every reading aligned to the most recent
    'mark' row at or before it — union-window shape, one shuffle, no
    range join; DuckDB verifies with its NATIVE ASOF JOIN, a fully
    independent implementation) and gap-based SESSIONIZATION (6h silence
    splits; engine uses Spark's native session_window aggregate, the
    oracle replays the lag+cumsum island form — proving the two
    formulations agree)."""
    from pyhydroqc_spark.operators import timejoin

    df = _events_long(spark, sf_dir)
    bh = df.groupBy("doc_id").agg(
        F.sum(
            (
                F.dayofweek("ts").between(2, 6) & F.hour("ts").between(7, 17)
            ).cast("long")
        ).alias("business_rows")
    )
    marks = df.where(F.col("pos") % 50 == 0).select(
        "doc_id", "ts", F.col("value").alias("mark")
    )
    aj = timejoin.asof_join(df, marks, on="ts", by="doc_id", value_cols=["mark"])
    aja = aj.groupBy("doc_id").agg(
        F.count("mark").alias("asof_n"),
        F.round(F.sum("mark"), 6).alias("asof_sum"),
    )
    sess = (
        timejoin.session_stats(df, 21600)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_rows").alias("max_sess_rows"),
        )
    )
    return bh.join(aja, "doc_id").join(sess, "doc_id")


def q_drift_ramp(spark, sf_dir):
    from pyhydroqc_spark.operators import calibration

    df = _events_long(spark, sf_dir).withColumnRenamed("value", "observed")
    out = calibration.lin_drift_ramp(
        df,
        datetime.datetime(2024, 1, 10),
        datetime.datetime(2024, 1, 20),
        -50.0,
    )
    return out.select("doc_id", "pos", F.round("ldc", 6).alias("ldc"))


T0_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC — synthetic strict cadence


def _events_cadenced(spark, sf_dir):
    """events series re-clocked to a strict 60s cadence (ts' = T0 + 60·pos)
    so window membership and ordering are tie-free on both engines."""
    return _events_long(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(T0_EPOCH) + F.col("pos") * 60)
    )


def _pin(spark, df):
    """Explicit doc_id repartition before CPU-heavy grouped kernels: these
    stages are tiny by BYTES at gate scale, so AQE's partition coalescing
    would serialize them onto one task (user repartitions are exempt and
    EnsureRequirements elides the grouped-map exchange)."""
    return df.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def q_find_gaps(spark, sf_dir):
    """Calibration gap finder (reference find_gap): per-doc candidate at
    pos 40, ±2h window, largest-jump + spike rule — the grouped pandas
    kernel, oracle-checked in SQL."""
    from pyhydroqc_spark.operators import calibration

    ser = _pin(spark, _events_cadenced(spark, sf_dir).withColumnRenamed("value", "observed"))
    cands = ser.where(F.col("pos") == 40).select(
        "doc_id", F.col("ts").alias("candidate")
    )
    out = calibration.find_gaps(ser, cands, hours=2)
    return out.select(
        "doc_id",
        F.round("gap", 6).alias("gap"),
        ((F.unix_timestamp("end") - T0_EPOCH) / 60).cast("long").alias("end_pos"),
    )


def q_drift_correct(spark, sf_dir):
    """Chained linear drift correction: two per-doc events sharing a
    boundary (end of #1 = start of #2), applied by the per-series pandas
    kernel; the oracle uses the additive closed form."""
    from pyhydroqc_spark.operators import calibration

    ser = _pin(spark, _events_cadenced(spark, sf_dir).withColumnRenamed("value", "observed"))
    docs = ser.select("doc_id").distinct()
    ev = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.timestamp_seconds(F.lit(T0_EPOCH + 10 * 60)).alias("start"),
                    F.timestamp_seconds(F.lit(T0_EPOCH + 30 * 60)).alias("end"),
                    F.lit(-5.0).alias("gap"),
                ),
                F.struct(
                    F.timestamp_seconds(F.lit(T0_EPOCH + 30 * 60)).alias("start"),
                    F.timestamp_seconds(F.lit(T0_EPOCH + 50 * 60)).alias("end"),
                    F.lit(3.0).alias("gap"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", "e.start", "e.end", "e.gap")
    out = calibration.drift_correct(ser, ev, value_col="observed")
    return out.select("doc_id", "pos", F.round("drift_cor", 6).alias("drift_cor"))


def q_tokenize_stats(spark, sf_dir):
    from pyhydroqc_spark.ingest import tokenize_long_table

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tok = tokenize_long_table(ev, "user_id", "ts", "value", lo=0.0, hi=500.0)
    return tok.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("tok_sum"),
        F.array_min("tokens").cast("long").alias("tok_min"),
        F.array_max("tokens").cast("long").alias("tok_max"),
    )


def q_params_join(spark, sf_dir):
    from pyhydroqc_spark.operators import rules

    df = _events_long(spark, sf_dir).withColumn(
        "bucket", F.pmod(F.col("doc_id").cast("long"), F.lit(5)).cast("long")
    )
    dim = spark.createDataFrame(
        [(i, 400.0 - 50 * i, 5.0) for i in range(5)], "bucket long, mx double, mn double"
    )
    joined = df.join(F.broadcast(dim), "bucket")
    out = rules.range_check(joined, F.col("mx"), F.col("mn"))
    return out.groupBy("bucket").agg(
        F.sum(F.col("anomaly").cast("long")).alias("n_anomalies")
    )


def q_dedup_exact(spark, sf_dir):
    from pyhydroqc_spark.textops import dedup

    return dedup.exact_dedup(_docs(spark, sf_dir)).select(
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("dup_cnt").cast("long").alias("dup_cnt"),
    )


def q_dedup_wordset(spark, sf_dir):
    from pyhydroqc_spark.textops import dedup

    return dedup.wordset_dedup(_docs(spark, sf_dir)).select(
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("dup_cnt").cast("long").alias("dup_cnt"),
    )


def q_jaccard_pairs(spark, sf_dir):
    from pyhydroqc_spark.textops import dedup

    out = dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_jaccard_ngram(spark, sf_dir):
    from pyhydroqc_spark.textops import dedup

    out = dedup.jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.4, tokenizer=("char", 4)
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_dedup_groups(spark, sf_dir):
    """Exact + wordset dedup in one gate, unioned under a ``method``
    label (consolidates the r4 dedup_exact and dedup_wordset gates)."""
    return q_dedup_exact(spark, sf_dir).withColumn(
        "method", F.lit("exact")
    ).unionByName(
        q_dedup_wordset(spark, sf_dir).withColumn("method", F.lit("wordset"))
    )


def q_jaccard_all(spark, sf_dir):
    """Word-shingle + char-4-gram Jaccard near-dup pairs in one gate,
    unioned under a ``kind`` label (consolidates jaccard_pairs and
    jaccard_ngram)."""
    return q_jaccard_pairs(spark, sf_dir).withColumn(
        "kind", F.lit("word")
    ).unionByName(
        q_jaccard_ngram(spark, sf_dir).withColumn("kind", F.lit("char4"))
    )


def q_embed_dup_pairs(spark, sf_dir):
    """Embedding near-dup pairs, BOTH scale shapes in one gate (r6
    consolidation): method='lsh' = sign-LSH bucket self-join over FULL
    vectors (the r2 surface); method='ivfpq' = corpus-vs-corpus pairs
    found entirely THROUGH the compressed PQ codes (per-cell SDC kernel,
    no driver collect — the r5 verdict's named gap). The ivfpq corpus
    plants a deterministic md5-perturbed twin for every 5th vector
    (cos ≈ 0.99); the SDC threshold finds exactly those twins from
    8-byte codes before the exact rerank confirms them. Centroids,
    codebooks (md5-derived, ×0.125 to the normalized sub-block scale),
    twin noise: all replayed bit-for-bit by the DuckDB oracle."""
    import numpy as np

    from pyhydroqc_spark.textops import ann

    emb = _emb(spark, sf_dir)
    lsh = ann.cosine_dup_pairs(
        emb, threshold=0.35, n_planes=4, n_tables=8, dim=64
    )

    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dup|"), F.col("vec_id").cast("string"),
                               F.lit("|"), d.cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long") / F.lit(576460752303423488.0) - F.lit(1.0),
    )
    # perturb FIRST, rename after: putting the +100000 alias in the same
    # select would lateral-alias-resolve the noise seed to the NEW id
    twins = (
        base.where(F.col("vec_id") % 5 == 0)
        .select(
            "vec_id",
            F.zip_with(
                F.col("embedding"), noise, lambda x, nz: x + F.lit(0.03) * nz
            ).alias("embedding"),
        )
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    corpus = base.unionByName(twins)
    cents = ann.ivf_centroids(64, 16)
    books = [
        (np.asarray(b) * 0.125).tolist()
        for b in ann.pq_codebooks_hash(64, m=8, k=16)
    ]
    ivf = ann.ivfpq_dup_pairs(
        corpus, cents, books, sdc_threshold=0.15, cos_threshold=0.9,
        n_assign=2,
    )

    def shape(df, method):
        return df.select(
            F.lit(method).alias("method"),
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )

    return shape(lsh, "lsh").unionByName(shape(ivf, "ivfpq"))


def q_ann_topk(spark, sf_dir):
    from pyhydroqc_spark.textops import ann

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    out = ann.cosine_topk(emb, queries, k=10)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_topk(spark, sf_dir):
    from pyhydroqc_spark.textops import ann

    emb = _emb(spark, sf_dir)
    out = ann.ivf_topk(
        emb, emb.where(F.col("vec_id") < 5), k=10, nlist=16, nprobe=4, dim=64
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_text_quality(spark, sf_dir):
    """Per-doc text analysis in one gate: text_stats + quality_score +
    token_count + corpus-trained bigram-LM perplexity (r5) — every
    component column hash-checked (consolidates three r4 gates plus the
    statistical quality signal into one slot). r6: the three projection
    surfaces come from ONE fused scan (`quality.text_profile`) instead of
    three scans joined on id; only the perplexity (a genuinely different
    aggregation shape) still joins. r6 late: the Gopher repetition
    signals join too — top2gram_frac (share of bigram occurrences taken
    by the most frequent bigram) and dup5gram_frac (share of 5-gram
    occurrences that repeat within the doc)."""
    from pyhydroqc_spark.textops import quality

    docs = _docs(spark, sf_dir)
    prof = quality.text_profile(docs).select(
        F.col("id").cast("long").alias("id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("quality", 6).alias("quality"),
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
    )
    ppl = quality.ngram_perplexity(docs).select(
        F.col("id").cast("long").alias("id"),
        F.round("log2_ppl", 6).alias("log2_ppl"),
    )
    top2 = quality.top_ngram_frac(docs, n=2).select(
        F.col("id").cast("long").alias("id"),
        F.round("top2gram_frac", 6).alias("top2gram_frac"),
    )
    dup5 = quality.dup_ngram_frac(docs, n=5).select(
        F.col("id").cast("long").alias("id"),
        F.round("dup5gram_frac", 6).alias("dup5gram_frac"),
    )
    return prof.join(ppl, "id", "left").join(top2, "id", "left").join(dup5, "id", "left")


def q_doc_profile(spark, sf_dir):
    """Per-doc language-ID + rolling-hash fingerprint in one gate
    (consolidates the r4 lang_id and fingerprint gates). r6 late:
    benchmark decontamination joins in — documents sharing any 13-gram
    (the published GPT-3 setting) with the deterministic benchmark subset
    (doc_id % 97 == 0) are flagged, grams md5-60-hashed on both sides and
    the benchmark side broadcast. r6 late 2: the exact-substring
    duplication profile (Lee et al. 2022 shape — corpus-wide duplicated
    12-gram spans, gaps-and-islands merged) joins as three more
    hash-checked columns. r6 late 3: the PII scrub (textops/pii.py) joins
    — the synthetic corpus carries no PII, so the gate PLANTS it
    deterministically (emails/IPs/phones/SSNs keyed on doc_id residues,
    constructed identically in both engines) and verifies the per-family
    match counts plus an md5-60 hash of the fully REDACTED text, so the
    oracle checks the rewrite byte-for-byte, not just the counts."""
    from pyhydroqc_spark.textops import dedup, pii, quality

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    planted = docs.select(
        did.alias("id"),
        F.concat(
            F.col("text"),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" host 10."), (did % 256).cast("string"), F.lit(".0.1 up")
                ),
            ).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" call +1 555 010 4242")).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(" id 123-45-6789")).otherwise(F.lit("")),
        ).alias("text"),
    )
    # one pass: scrub() emits counts + the redacted text together; the
    # hash replaces the text so the gate never ships raw strings
    scrubbed = pii.scrub(planted, id_col="id", text_col="text")
    piic = scrubbed.select(
        "id",
        "n_email",
        "n_ipv4",
        "n_phone",
        "n_ssn",
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone") + F.col("n_ssn")).alias(
            "n_pii"
        ),
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long")
        .alias("redacted_h"),
    )
    bench = docs.where(F.col("doc_id").cast("long") % 97 == 0)
    cont = quality.ngram_contamination(docs, bench, n=13).select(
        F.col("id").cast("long").alias("id"),
        F.col("n_shared_13grams").cast("long").alias("n_shared_13grams"),
        "contaminated",
    )
    spans = dedup.dup_spans(docs, n=12).select(
        F.col("id").cast("long").alias("id"),
        "n_dup_spans",
        "dup_words",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
    )
    return (
        q_lang_id(spark, sf_dir)
        .join(q_fingerprint(spark, sf_dir), "id")
        .join(cont, "id")
        .join(spans, "id")
        .join(piic, "id")
    )


def q_lang_stats(spark, sf_dir):
    """Per-language corpus stats + the three deterministic sampling /
    data-mixture surfaces (r6 late: textops/sample.py): hash-Bernoulli
    sample, stratified per-group quota, and token-budget mixture fill.
    Each selection is verified by its per-lang doc count AND an id-sum
    checksum — the checksum pins the exact selected SET, not just its
    size, so the oracle catches a wrong-but-right-sized selection. The
    quota/budget paths run with the scale prefilter ON (the u-threshold
    candidate cut + validated fallback), so the gate also proves the
    prefilter is output-invariant vs the plain row_number/window oracle."""
    from pyhydroqc_spark.textops import sample

    docs = _docs(spark, sf_dir)
    base = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )
    samp = (
        sample.hash_sample(docs, 0.2, seed="gate")
        .groupBy("lang")
        .agg(
            F.count("*").alias("samp_docs"),
            F.sum("doc_id").alias("samp_id_sum"),
        )
    )
    quota = (
        sample.stratified_sample(docs, 40, group_col="lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("quota_docs"),
            F.sum("doc_id").alias("quota_id_sum"),
        )
    )
    bud = (
        sample.token_budget_sample(docs, 50000.0, "n_chars", group_col="lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("budget_docs"),
            F.sum("n_chars").alias("budget_chars"),
            F.sum("doc_id").alias("budget_id_sum"),
        )
    )
    return (
        base.join(samp, "lang", "left")
        .join(quota, "lang", "left")
        .join(bud, "lang", "left")
    )


def q_ar1_residuals(spark, sf_dir):
    """The pipeline's JVM-side ARI(1,1) residual math, oracle-checked: the
    per-series least-squares fit is just moment sums, reproducible in SQL."""
    from pyhydroqc_spark.operators import detect

    df = _events_long(spark, sf_dir).withColumnRenamed("value", "observed")
    # default settings: recompute-not-persist is the scale-safe default now
    out = detect.arima_residuals_sql(df, "observed", order=(1, 1, 0))
    return out.select("doc_id", "pos", F.round("residual", 6).alias("residual"))


def q_ar11_residuals(spark, sf_dir):
    """The q=1 ψ-filter innovation path (ARIMA(1,1,1)) with FIXED
    coefficients — how tuned site params are applied at scale (the
    reference's MainStreet configs fix q=1, `parameters.py:70-272`). With
    the fit done offline, the innovation recursion is coefficient-exact and
    DuckDB replays it closed-form: e_t = Σ_j (−θ)^j (y_{t−j} − φ·y_{t−j−1})
    with geometric truncation. The coefficients are deliberately
    non-round (0.6137215, 0.2918467): the events values are 2-decimal, so
    round coefficients like (0.6, 0.3) make innovations land EXACTLY on
    rounding half-boundaries where the two engines' float-repr wobble
    (~1e-13) flips the 6th decimal.

    r6 addition — the EXACT-MLE FIT path is driver-gated too: rows with
    doc_id 'mle:s0'/'mle:s1' carry the fitted (c, phi..., theta..., nll)
    of the engine's own Kalman-likelihood ARMA estimator on two frozen
    ARMA(1,1)/ARMA(2,1) fixtures (pinned RNG seed, deterministic
    Nelder–Mead). A SQL engine cannot run a Kalman filter, so the oracle
    holds the literal expected table computed once from the same frozen
    fixture — value-hash-checked like every other row."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.operators import detect

    df = _events_long(spark, sf_dir).withColumnRenamed("value", "observed")
    out = detect.arima_residuals_fixed(
        df, "observed", model=(0.0, (0.6137215,), (0.2918467,), 1)
    )
    out = out.select(
        "doc_id",
        "pos",
        F.round("residual", 6).alias("residual"),
        F.round("prediction", 6).alias("prediction"),
    )

    def _gen(seed, n, c, phi, theta):
        rng = np.random.default_rng(seed)
        e = rng.normal(0, 1.0, n + 50)
        p, q = len(phi), len(theta)
        y = np.zeros(n + 50)
        for t in range(max(p, q), n + 50):
            y[t] = (
                c
                + sum(phi[i] * y[t - 1 - i] for i in range(p))
                + e[t]
                + sum(theta[j] * e[t - 1 - j] for j in range(q))
            )
        return y[50:]

    fixtures = {
        "mle:s0": (11, 600, 0.4, (0.6137215,), (0.2918467,)),
        "mle:s1": (12, 800, 0.0, (0.55, -0.25), (0.35,)),
    }
    orders = {k: (len(v[3]), len(v[4])) for k, v in fixtures.items()}
    frames = [
        pd.DataFrame(
            {"doc_id": k, "pos": np.arange(v[1]), "value": _gen(*v)}
        )
        for k, v in fixtures.items()
    ]
    fix_df = spark.createDataFrame(
        pd.concat(frames, ignore_index=True),
        "doc_id string, pos bigint, value double",
    )

    def fit_fn(key, pdf):
        from pyhydroqc_spark.operators import arima as _a

        y = pdf.sort_values("pos")["value"].to_numpy()
        p, q = orders[key[0]]
        cc, ph, th = _a.fit_arma_mle(y, p, q)
        nll = _a._kalman_neg_loglik(y, cc, np.asarray(ph), np.asarray(th))
        coefs = [cc, *ph, *th, nll]
        return pd.DataFrame(
            {
                "doc_id": key[0],
                "pos": np.arange(len(coefs), dtype=np.int64),
                "residual": [round(float(v), 6) for v in coefs],
                "prediction": [None] * len(coefs),
            }
        )

    mle_rows = fix_df.groupBy("doc_id").applyInPandas(
        fit_fn, "doc_id string, pos bigint, residual double, prediction double"
    )
    return out.unionByName(mle_rows)


def q_windowed_detect_counts(spark, sf_dir):
    """Windowed-regression detector (LSTM-workflow stand-in) with a
    closed-form 2-lag OLS head so DuckDB can replay the whole chain."""
    from pyhydroqc_spark.operators import threshold, windowed_detect

    df = _pin(spark, _events_long(spark, sf_dir).withColumnRenamed("value", "observed"))
    out = windowed_detect.windowed_regression_residuals(
        df, "observed", time_steps=2
    )
    out = threshold.dynamic_threshold(out, "residual", window_sz=30, alpha=0.05, min_range=1.0)
    out = threshold.detect_threshold_anomalies(out, "residual")
    return out.groupBy("doc_id").agg(
        F.sum(F.col("detected_anomaly").cast("long")).alias("n_detected")
    )


def q_windowed_bidir_counts(spark, sf_dir):
    """The bidirectional windowed-regression mode (reference drops both
    edges, `model_workflow.py:127,139`): predict x_t from [x_{t-1}, x_{t+1}]
    — a 2×2 closed form DuckDB replays with LAG+LEAD."""
    from pyhydroqc_spark.operators import threshold, windowed_detect

    df = _pin(spark, _events_long(spark, sf_dir).withColumnRenamed("value", "observed"))
    out = windowed_detect.windowed_regression_residuals(
        df, "observed", time_steps=1, mode="bidir"
    )
    out = threshold.dynamic_threshold(out, "residual", window_sz=30, alpha=0.05, min_range=1.0)
    out = threshold.detect_threshold_anomalies(out, "residual")
    return out.groupBy("doc_id").agg(
        F.sum(F.col("detected_anomaly").cast("long")).alias("n_detected")
    )


def q_multivar_residuals(spark, sf_dir):
    """The multivariate head (`model_workflow.py:192-317` shape): adjacent
    event users are paired as two sensors of one site, truncated to the
    common length; each sensor's head regresses on BOTH sensors' lag-1
    features (2×2 closed form per head, replayable in SQL). Exercises the
    site-pivot + shared-feature-block + per-sensor-head plumbing
    end-to-end."""
    from pyhydroqc_spark.operators import windowed_detect

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        F.col("user_id").cast("long").alias("uid"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        F.col("value").cast("double").alias("observed"),
    ).select(
        F.floor(F.col("uid") / 2).cast("string").alias("site"),
        F.concat(F.lit("s"), F.pmod(F.col("uid"), F.lit(2))).alias("sensor"),
        "pos",
        "observed",
    )
    lens = base.groupBy("site", "sensor").agg(F.max("pos").alias("mx"))
    sites = (
        lens.groupBy("site")
        .agg(F.min("mx").alias("mn"), F.count("*").alias("ns"))
        .where(F.col("ns") == 2)
    )
    frame = (
        base.join(F.broadcast(sites), "site")
        .where(F.col("pos") <= F.col("mn"))
        .select("site", "sensor", "pos", "observed")
    )
    out = windowed_detect.multivar_regression_residuals(
        frame,
        "observed",
        time_steps=1,
        site_col="site",
        sensor_col="sensor",
        order_col="pos",
    )
    return out.where(F.col("pos") >= 1).select(
        "site", "sensor", "pos", F.round("residual", 6).alias("residual")
    )


# portable-hash variants (md5-keyed so DuckDB replays the same bits)

def q_minhash_candidates(spark, sf_dir):
    from pyhydroqc_spark.textops import dedup

    sig = dedup.minhash_signatures(_docs(spark, sf_dir), num_perm=32)
    out = dedup.minhash_candidates(sig, bands=8)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


def q_simhash(spark, sf_dir):
    from pyhydroqc_spark.textops import dedup

    out = dedup.simhash(_docs(spark, sf_dir), bits=60)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairing: 16-bit quarter-band buckets then exact
    hamming recheck — the full LSH shape, oracle-checked.

    The signature frame is localCheckpoint-materialized (one row per
    doc) per invocation — never memoized across calls, so every run
    recomputes the fold from parquet: the banding stage references
    it from three union branches, and without the truncation Catalyst
    re-analyzes the 61-aggregate fold subtree per branch — measured
    1.67s of PLANNING per invocation at sf0.1, more than the query's
    execution (guide §7.3: materialize intermediates to truncate
    large plans)."""
    from pyhydroqc_spark.textops import dedup

    sig = dedup.simhash(_docs(spark, sf_dir), bits=60).localCheckpoint(
        eager=True
    )
    out = dedup.simhash_candidates(sig, max_hamming=3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_persist_calib_counts(spark, sf_dir):
    """Persistence-based calibration candidates (reference quirks: group
    extended one row earlier; business-day + hour gate), per-doc counts."""
    from pyhydroqc_spark.operators import calibration, rules

    df = _events_cadenced(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(T0_EPOCH) + F.col("pos") * 3600)
    )
    df = df.withColumn("vq", F.round(F.col("value") / 50)).withColumn(
        "anomaly", F.lit(False)
    )
    df = rules.persistence(df, 3, value_col="vq", output_grp=True)
    out = calibration.persist_candidates(df)
    return out.groupBy("doc_id").agg(
        F.sum(F.col("calib_flag").cast("long")).alias("n_calib")
    )


def q_aggregate_results(spark, sf_dir):
    """Multi-model OR (reference aggregate_results): two detectors — rules
    range check and the dynamic-threshold chain — each widened to events,
    OR'd per (doc, pos)."""
    from pyhydroqc_spark.operators import events, metrics, rules, threshold

    base = _events_long(spark, sf_dir)
    m1 = rules.range_check(base, MAXR, MINR)
    m1 = events.anomaly_events(m1, "anomaly", wf=1, out_col="detected_event")
    m2 = base.withColumnRenamed("value", "residual")
    m2 = threshold.dynamic_threshold(m2, "residual", window_sz=30, alpha=0.05, min_range=1.0)
    m2 = threshold.detect_threshold_anomalies(m2, "residual")
    m2 = events.anomaly_events(m2, "detected_anomaly", wf=1, out_col="detected_event")
    out = metrics.aggregate_results({"rules": m1, "thr": m2})
    return out.select(
        "doc_id", "pos", F.col("detected_event").cast("boolean").alias("any_detected")
    )


def _conf_mtx(spark, sf_dir):
    """The comparison chain both metrics gates share: labels (value>420)
    and detections (value>400) → widened events → compare_events_sql
    (group merge + exit-only categorization + trailing-group quirk)."""
    from pyhydroqc_spark.operators import events, metrics

    df = (
        _events_long(spark, sf_dir)
        .withColumn("labeled", F.col("value") > 420)
        .withColumn("det", F.col("value") > 400)
    )
    df = events.anomaly_events(df, "labeled", wf=1, out_col="labeled_event")
    df = events.anomaly_events(df, "det", wf=1, out_col="detected_event")
    return metrics.compare_events_sql(df, wf=1)


def q_point_metrics(spark, sf_dir):
    """Point confusion metrics over the shared comparison chain: one
    global row of tp/fp/fn/tn counts and ratios."""
    from pyhydroqc_spark.operators import metrics

    out = metrics.point_metrics(_conf_mtx(spark, sf_dir))
    return out.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.round("prc", 6).alias("prc"),
        F.round("rcl", 6).alias("rcl"),
        F.round("f1", 6).alias("f1"),
    )


def q_edge_candidates(spark, sf_dir):
    """Per-day edge-jump calibration candidates, preserving the reference
    quirk: the day is selected by max |edge| but the candidate timestamp is
    the argmax of the RAW edge. Zero edges (boundary fill rows) are
    filtered so the argmax is tie-free on both engines."""
    from pyhydroqc_spark.operators import calibration

    df = (
        _events_long(spark, sf_dir)
        .withColumn("ts", F.timestamp_seconds(F.lit(T0_EPOCH) + F.col("pos") * 3600))
        .withColumnRenamed("value", "observed")
    )
    ed = calibration.edge_filter(df, 4).where(F.col("edge_diff") != 0.0)
    out = calibration.edge_candidates(ed, threshold=10.0)
    return out.select(
        "doc_id",
        ((F.unix_timestamp("candidate") - T0_EPOCH) / 3600).cast("long").alias("cand_pos"),
    )


def q_lsh_topk(spark, sf_dir):
    from pyhydroqc_spark.textops import ann

    emb = _emb(spark, sf_dir)
    out = ann.lsh_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=10,
        n_planes=4,
        n_tables=8,
        dim=64,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_lang_id(spark, sf_dir):
    from pyhydroqc_spark.textops import quality

    out = quality.lang_id(_docs(spark, sf_dir))
    return out.select(F.col("id").cast("long").alias("id"), "lang_pred")


def q_fingerprint(spark, sf_dir):
    from pyhydroqc_spark.textops import quality

    out = quality.fingerprint(_docs(spark, sf_dir))
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("fingerprint").cast("long").alias("fingerprint"),
    )


def q_event_metrics(spark, sf_dir):
    """Event-level confusion counts (reference event_metrics,
    `anomaly_utilities.py:250-295`) over the shared comparison chain: each
    category transition into tp/fp/fn counts one event."""
    from pyhydroqc_spark.operators import metrics

    out = metrics.event_metrics(_conf_mtx(spark, sf_dir))
    return out.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round("prc", 6).alias("prc"),
        F.round("rcl", 6).alias("rcl"),
        F.round("f1", 6).alias("f1"),
        F.round("f2", 6).alias("f2"),
    )


def q_calib_overlap(spark, sf_dir):
    """Multi-sensor calibration overlap AND (reference calibration.py:
    100-141): sensors (user series) grouped into sites; a position
    overlaps when EVERY sensor of the site is inside a widened calib
    event there."""
    from pyhydroqc_spark.operators import calibration, events

    df = _events_long(spark, sf_dir).withColumn("flag", F.col("value") > 380)
    df = events.anomaly_events(df, "flag", wf=1, out_col="calib_event")
    df = df.withColumn("site", F.col("doc_id").cast("long") % 5).withColumn(
        "calib_event_flag", F.col("calib_event") > 0
    )
    out = calibration.overlap(
        df, sensor_col="doc_id", flag_col="calib_event_flag", key="site"
    )
    return out.select(
        F.col("site").cast("long").alias("site"),
        F.col("pos").cast("long").alias("pos"),
        "all_calib",
    )


def q_const_threshold(spark, sf_dir):
    """Constant thresholds, both reference variants: per-series z·σ̂ bounds
    from the residual distribution (set_cons_threshold analog, M3) applied
    via the threshold join, plus the scalar-bound detector (M5)."""
    from pyhydroqc_spark.operators import threshold

    w = Window.partitionBy("doc_id")
    resid = _events_long(spark, sf_dir).withColumn(
        "residual", F.col("value") - F.avg("value").over(w)
    )
    thr = threshold.constant_threshold(resid, "residual", alpha=0.05)
    det = threshold.detect_threshold_anomalies(
        resid.join(F.broadcast(thr), "doc_id")
    )
    det = threshold.constant_threshold_anomalies(
        det, "residual", -80.0, 80.0, flag_col="scalar_anom"
    )
    return det.groupBy("doc_id").agg(
        F.round(F.min("low"), 6).alias("low"),
        F.round(F.max("high"), 6).alias("high"),
        F.sum(F.col("detected_anomaly").cast("long")).alias("n_detected"),
        F.sum(F.col("scalar_anom").cast("long")).alias("n_scalar"),
    )


def q_comp_roundtrip(spark, sf_dir):
    """Compression round-trip gate: quantize each series with the shared
    tokenizer, run it through the REAL storage codecs (delta-of-delta
    timestamps + Gorilla-style XOR values, compression.py) and decode
    again; emit order-weighted checksums of the DECODED arrays. The oracle
    computes the same checksums from the raw table — a hash match proves
    decode(encode(x)) == x on every series."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from pyhydroqc_spark.compression import decode_series_blob, encode_series_blob
    from pyhydroqc_spark.quantize import quantize

    # explicit hash repartition: the codec kernel is CPU-heavy per series
    # while the shuffle is tiny by BYTES, so AQE's coalescing would fold
    # the grouped-map stage into one task; a user repartition pins the
    # parallelism (EnsureRequirements then elides the groupBy exchange)
    n = spark.sparkContext.defaultParallelism
    df = (
        _events_cadenced(spark, sf_dir)
        .select("doc_id", "pos", F.unix_timestamp("ts").alias("tsec"), "value")
        .repartition(n, "doc_id")
    )
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("n", LongType(), False),
            StructField("val_sum", LongType(), False),
            StructField("ts_sum", LongType(), False),
        ]
    )

    def rt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        toks = quantize(pdf["value"].to_numpy(dtype=float), 0.0, 500.0)
        ts = pdf["tsec"].to_numpy(np.int64)
        dtoks, dts = decode_series_blob(encode_series_blob(toks, ts))
        w = np.arange(1, len(dtoks) + 1, dtype=np.int64)
        return pd.DataFrame(
            {
                "doc_id": [pdf["doc_id"].iloc[0]],
                "n": [len(dtoks)],
                "val_sum": [int((w * dtoks.astype(np.int64)).sum())],
                "ts_sum": [int((w * dts.astype(np.int64)).sum())],
            }
        )

    return df.groupBy("doc_id").applyInPandas(rt, schema=schema)


def q_multimodal_features(spark, sf_dir):
    """Multimodal feature extraction over lib-free payloads: deterministic
    constant-channel 16×16 images built per document id — P6 PPM (id%7==0),
    24-bit BMP (id%7==1), 8-bit PNG via the stdlib-zlib codec (id%7==2),
    an uncompressed AVI clip of two identical frames (id%7==3; clip
    features = mean over identical frames = the image's features), a GIF
    via the pure-Python LZW codec (id%7==4; gray palette ≤256), a
    PROGRESSIVE JPEG (id%7==5: SOF2 six-scan stream with 4:2:0 chroma and
    restart markers; the image is spatially CONSTANT at p=(id*31)%256, and
    constant blocks round-trip the flat-quant JPEG exactly, so even the
    lossy codec is oracle-exact), or an MJPG AVI (id%7==6: two identical
    JPEG '00dc' frames, same constant-exactness argument) — through the
    REAL container-sniffing decode kernels (textops/multimodal.py). With
    R=G=B=p the grayscale equals p, so features×255 are integers the
    oracle reproduces in closed form regardless of container format,
    compression, or modality."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType,
    )

    from pyhydroqc_spark.textops import multimodal

    ids = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("id"))
    media_schema = StructType(
        [
            StructField("media_id", StringType(), False),
            StructField("media", BinaryType(), False),
            StructField("kind", StringType(), False),
        ]
    )

    def build(batches):
        yy, xx = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                from pyhydroqc_spark.textops.gif import encode_gif
                from pyhydroqc_spark.textops.jpeg import encode_jpeg

                v = int(i) % 7
                if v >= 5:  # lossy containers get the constant image
                    p = np.full((16, 16), (int(i) * 31) % 256, dtype=np.uint8)
                else:
                    p = ((int(i) * 31 + yy * 16 + xx * 3) % 256).astype(np.uint8)
                img = np.stack([p, p, p], axis=-1)
                enc = [
                    multimodal.encode_ppm,
                    multimodal.encode_bmp,
                    multimodal.encode_png,
                    lambda im: multimodal.encode_avi(np.stack([im, im])),
                    encode_gif,
                    lambda im: encode_jpeg(
                        im, progressive=True, subsampling="420", restart_every=2
                    ),
                    lambda im: multimodal.encode_avi(
                        np.stack([im, im]), codec="MJPG"
                    ),
                ][v]
                payload = enc(img)
                kind = "video" if v in (3, 6) else "image"
                rows.append((str(int(i)), payload, kind))
            yield pd.DataFrame(rows, columns=["media_id", "media", "kind"])

    media = ids.mapInPandas(build, schema=media_schema)
    feats = multimodal.extract_features(media)
    return feats.select(
        F.col("media_id").cast("long").alias("id"),
        F.posexplode("features").alias("fi", "f"),
    ).select(
        "id",
        F.col("fi").cast("long").alias("fi"),
        F.round(F.col("f") * 255).cast("long").alias("gval"),
    )


def q_hot_tokens(spark, sf_dir):
    """The jaccard skew guard's drop set, surfaced as a first-class query
    (no silent caps): tokens present in more than max_doc_freq of all
    documents — exactly what `jaccard_pairs` excludes from its token join."""
    from pyhydroqc_spark.textops import dedup

    return dedup.hot_tokens(_docs(spark, sf_dir), 0.2)


def q_dup_components(spark, sf_dir):
    """Dedup keep-list: connected components over the (skew-guarded word)
    jaccard near-dup pairs — min-id per component, one canonical keeper.
    The iterative min-label propagation vs DuckDB's recursive transitive
    closure."""
    from pyhydroqc_spark.textops import dedup

    pairs = dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)
    out = dedup.dup_components(pairs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "keep",
    )


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN (the memory-at-rest scale path: 64-dim
    float vectors → 8 one-byte codes, ~64× smaller, ADC-scored from RAM
    at 10^9 vectors): md5-derived sub-codebooks (replayable), encoded by
    the IVFADC index with ONE cell, so ``nprobe=1`` scans every code —
    plain PQ/ADC — then asymmetric-distance top-30 refine and exact cosine
    rerank to top-10."""
    from pyhydroqc_spark.textops import ann

    emb = _emb(spark, sf_dir)
    cents = ann.ivf_centroids(64, 1)
    books = ann.pq_codebooks_hash(64, m=8, k=16)
    idx = ann.ivfpq_index(emb, cents, books)
    queries = emb.where(F.col("vec_id") < 5)
    out = ann.ivfpq_topk(
        idx, queries, cents, books, k=10, nprobe=1, refine=30,
        full_vectors=emb,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivfpq_topk(spark, sf_dir):
    """IVFADC: IVF coarse cells prune the scan to nprobe/nlist of the
    corpus, PQ/ADC scores the survivors from m-byte codes, exact cosine
    rerank on the global top-30. md5-derived centroids AND sub-codebooks
    so DuckDB replays the whole index bit-for-bit. The same operator as
    ``pq_topk`` with 16 cells and 4 probed instead of one: only codes in
    probed cells are ever touched."""
    from pyhydroqc_spark.textops import ann

    emb = _emb(spark, sf_dir)
    cents = ann.ivf_centroids(64, 16)
    books = ann.pq_codebooks_hash(64, m=8, k=16)
    idx = ann.ivfpq_index(emb, cents, books)
    queries = emb.where(F.col("vec_id") < 5)
    out = ann.ivfpq_topk(
        idx, queries, cents, books, k=10, nprobe=4, refine=30,
        full_vectors=emb,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_streaming_rollup(spark, sf_dir):
    """§2.10 driver-gated END TO END: events → token arrays → TWO
    incremental Structured-Streaming drains (AvailableNow + cell-scoped
    foreachBatch MERGE into the snapshot store) → read the store back.
    The streamed result must equal a one-shot SQL rollup of the same
    points — the continuous-aggregate contract, checked by the oracle.
    Fresh temp store per invocation, fully deterministic."""
    import os
    import tempfile

    from pyhydroqc_spark import streaming
    from pyhydroqc_spark.ingest import collapse_to_tokens
    from pyhydroqc_spark.tables import SnapshotTable

    tmp = tempfile.mkdtemp(prefix="stream_gate_")
    in_dir, out_dir = os.path.join(tmp, "in"), os.path.join(tmp, "out")
    os.makedirs(in_dir)
    # map events values into the shared quantizer band [-5, 30)
    base = (
        _events_long(spark, sf_dir)
        .withColumn("value", F.col("value") / 20.0 - 4.0)
        .withColumn("source", F.lit("ev"))
    )
    tok = collapse_to_tokens(base)
    even = F.col("doc_id").cast("long") % 2 == 0
    tok.where(even).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=(3600,))
    tok.where(~even).write.mode("append").parquet(in_dir)
    streaming.run_streaming_rollup(spark, in_dir, out_dir, tier_seconds=(3600,))
    agg = SnapshotTable(os.path.join(out_dir, "agg_3600s")).read(spark)
    return agg.select(
        "doc_id",
        F.unix_timestamp("bucket_start").cast("long").alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
        F.round("sum_val", 6).alias("sum_val"),
        F.round("avg_val", 6).alias("avg_val"),
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
    )


def q_retention_counts(spark, sf_dir):
    """Retention-window gate (r5, north-rule 'retention tiers' end to end):
    1h rollup cells written to a SnapshotTable partitioned by epoch-DAY in
    two dynamic-partition commits, the OLDER half of the days aged out via
    drop_partitions (metadata-only), snapshots expired (keep_last=1 —
    physically deletes the aged parquet), then the store read back. The
    oracle is the same 1h rollup filtered to the retained days, so a
    missed drop, a botched expiry, or an over-eager delete all
    hash-mismatch. Cutoff = median distinct day (computed identically in
    SQL). Fresh temp store per invocation, fully deterministic."""
    import os
    import tempfile

    from pyhydroqc_spark.operators import rollup
    from pyhydroqc_spark.tables import SnapshotTable

    cells = rollup.rollup_points(
        _events_long(spark, sf_dir), 3600, value_col="value"
    ).withColumn(
        "day",
        F.floor(F.unix_timestamp("bucket_start") / 86400).cast("long").cast("string"),
    )
    days = sorted(
        int(r["day"]) for r in cells.select("day").distinct().collect()
    )
    cutoff = days[len(days) // 2]  # retain the newer half (median included)

    tmp = tempfile.mkdtemp(prefix="retention_gate_")
    tbl = SnapshotTable(os.path.join(tmp, "rollup_3600s"))
    # two commits (old days, then new days) so expiry has history to drop
    tbl.overwrite_partitions(cells.where(F.col("day").cast("long") < cutoff), "day")
    tbl.overwrite_partitions(cells.where(F.col("day").cast("long") >= cutoff), "day")
    n_before = len(tbl.files())
    tbl.drop_partitions(lambda p: int(p) >= cutoff)
    removed = tbl.expire_snapshots(keep_last=1)
    if not removed or len(tbl.files()) >= n_before:
        raise RuntimeError("retention gate: expiry removed no aged files")

    out = SnapshotTable(os.path.join(tmp, "rollup_3600s")).read(spark)
    return out.select(
        "doc_id",
        F.unix_timestamp("bucket_start").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
        F.round("sum_val", 6).alias("sum_val"),
        F.round("avg_val", 6).alias("avg_val"),
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
    )


def q_streaming_detect(spark, sf_dir):
    """r5 CUSTOM STATEFUL streaming operator gate: per-series QC
    (range_check + persistence) via applyInPandasWithState, TWO
    AvailableNow drains with every series' prefix in drain 1 and suffix in
    drain 2 — so persistence runs deliberately straddle the drain boundary
    and are only flagged correctly if the open-run state survives the
    checkpoint. Values are floor-quantized to a 5-wide grid so equal-value
    runs actually occur in the events data. Oracle = the batch
    range+persistence semantics in SQL over the same quantized series.
    Rows at the reserved flush position (out-of-band sentinel — NULL no
    longer doubles as one) flush each series' final open run."""
    import os
    import tempfile

    from pyhydroqc_spark import streaming

    MX, MN, PLEN, FLUSH = 60.0, 5.0, 3, 10_000_000
    base = _events_long(spark, sf_dir).select(
        "doc_id", "pos", (F.floor(F.col("value") / 5.0) * 5.0).alias("value")
    )
    half = base.agg(F.max("pos")).first()[0] // 2

    tmp = tempfile.mkdtemp(prefix="stream_detect_gate_")
    in_dir, out_dir = os.path.join(tmp, "in"), os.path.join(tmp, "out")
    base.where(F.col("pos") < half).write.mode("append").parquet(in_dir)
    streaming.run_streaming_detect(
        spark, in_dir, out_dir, MX, MN, PLEN, flush_pos=FLUSH
    )
    tail = base.where(F.col("pos") >= half)
    sentinels = base.select("doc_id").distinct().select(
        "doc_id",
        F.lit(FLUSH).cast("bigint").alias("pos"),
        F.lit(None).cast("double").alias("value"),
    )
    tail.unionByName(sentinels).write.mode("append").parquet(in_dir)
    streaming.run_streaming_detect(
        spark, in_dir, out_dir, MX, MN, PLEN, flush_pos=FLUSH
    )

    out = spark.read.parquet(os.path.join(out_dir, "flags"))
    return out.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.round("value", 6).alias("value"),
        "anomaly",
    )


def q_dup_keep_list(spark, sf_dir):
    """The actionable full keep-list, two ways (consolidated gate, method
    column): 'cc' = the one-shot connected-components keep-list
    (dup_components with ``corpus=`` folding singletons back in);
    'minhash_inc' = the r6-late INCREMENTAL path (textops/incremental.py)
    — the corpus is run through a fresh on-disk DedupStore in TWO
    id-ordered batches, each deciding only against the persisted
    signature store + itself, and the gate's oracle replays the
    equivalent ONE-SHOT rule in SQL ("duplicate iff a smaller-id doc
    shares a band bucket with signature-jaccard ≥ 0.5") — proving
    incremental ≡ one-shot byte-for-byte. ``component`` for the
    incremental rows is coalesce(dup_of, doc_id)."""
    import shutil
    import tempfile

    from pyhydroqc_spark.textops import dedup, incremental

    pairs = dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)
    out = dedup.dup_components(pairs, corpus=_docs(spark, sf_dir))
    cc = out.select(
        F.lit("cc").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "keep",
    )

    docs = _docs(spark, sf_dir)
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    root = tempfile.mkdtemp(prefix="dedup_store_")
    try:
        store = incremental.DedupStore(root)
        d1 = incremental.incremental_dedup(
            docs.where(F.col("doc_id") <= mid), store, threshold=0.5
        )
        d2 = incremental.incremental_dedup(
            docs.where(F.col("doc_id") > mid), store, threshold=0.5
        )
        # each batch's decisions come back local-checkpointed, so they
        # outlive the store dir removed below
        inc = d1.unionByName(d2).select(
            F.lit("minhash_inc").alias("method"),
            F.col("id").cast("long").alias("doc_id"),
            F.coalesce("dup_of", "id").cast("long").alias("component"),
            "keep",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return cc.unionByName(inc)


# Prepared-plan handles were built in r7, measured, and REMOVED on
# evidence: repeated actions on the SAME DataFrame reuse its
# QueryExecution, so the DAGScheduler serves its shuffle map stages from
# the previous action's shuffle files ("skipped stages") instead of
# recomputing them. A memoized handle therefore lets a repeated timed
# invocation read persisted intermediates rather than compute from the
# parquet inputs — cross-invocation result caching in exactly the sense
# the optimization-round rules forbid (measured: rollup_tiers repeat
# count 0.41s on a shared handle vs 3.5-4.4s rebuilt fresh; the 0.41s is
# shuffle reuse, not execution). queries() therefore returns builders
# that construct a FRESH DataFrame (fresh shuffle ids, full recompute,
# and fresh Catalyst planning) on every call.
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "range_counts": q_range_counts,
        "max_anomaly_run": q_max_anomaly_run,
        "persistence_counts": q_persistence_counts,
        "interpolated": q_interpolated,
        "dynamic_threshold": q_dynamic_threshold,
        "threshold_detect_counts": q_threshold_detect_counts,
        "anomaly_events": q_anomaly_events,
        "group_bools": q_group_bools,
        "rollup_tiers": q_rollup_tiers,
        "edge_filter": q_edge_filter,
        "business_hours": q_business_hours,
        "drift_ramp": q_drift_ramp,
        "find_gaps": q_find_gaps,
        "drift_correct": q_drift_correct,
        "tokenize_stats": q_tokenize_stats,
        "params_join": q_params_join,
        "dedup_groups": q_dedup_groups,
        "jaccard_all": q_jaccard_all,
        "embed_dup_pairs": q_embed_dup_pairs,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "text_quality": q_text_quality,
        "lang_stats": q_lang_stats,
        "ar1_residuals": q_ar1_residuals,
        "ar11_residuals": q_ar11_residuals,
        "windowed_bidir_counts": q_windowed_bidir_counts,
        "multivar_residuals": q_multivar_residuals,
        "windowed_detect_counts": q_windowed_detect_counts,
        "minhash_candidates": q_minhash_candidates,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "persist_calib_counts": q_persist_calib_counts,
        "edge_candidates": q_edge_candidates,
        "point_metrics": q_point_metrics,
        "aggregate_results": q_aggregate_results,
        "lsh_topk": q_lsh_topk,
        "doc_profile": q_doc_profile,
        "event_metrics": q_event_metrics,
        "calib_overlap": q_calib_overlap,
        "const_threshold": q_const_threshold,
        "comp_roundtrip": q_comp_roundtrip,
        "multimodal_features": q_multimodal_features,
        "hot_tokens": q_hot_tokens,
        "dup_components": q_dup_components,
        "dup_keep_list": q_dup_keep_list,
        "streaming_rollup": q_streaming_rollup,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "retention_counts": q_retention_counts,
        "streaming_detect": q_streaming_detect,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB)
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["range_counts"] = BASE_SQL + f"""
SELECT doc_id, COUNT(*) AS n_points,
       CAST(SUM(CASE WHEN value > {MAXR} OR value < {MINR} THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM base GROUP BY doc_id
"""

    sql["max_anomaly_run"] = BASE_SQL + f"""
, fl AS (
  SELECT doc_id, pos, (value > {MAXR} OR value < {MINR}) AS f FROM base
), lg AS (
  SELECT doc_id, pos, f,
         CASE WHEN f AND NOT COALESCE(LAG(f) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
              THEN 1 ELSE 0 END AS started
  FROM fl
), runs AS (
  SELECT doc_id, pos, f,
         SUM(started) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM lg
)
SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_run_len FROM (
  SELECT doc_id, rid, COUNT(*) AS cnt FROM runs WHERE f GROUP BY doc_id, rid
) GROUP BY doc_id
"""

    sql["persistence_counts"] = BASE_SQL + """
, vq AS (SELECT doc_id, pos, ROUND(value / 50) AS v FROM base),
rep AS (
  SELECT doc_id, pos,
         COALESCE(v = LAG(v) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS r
  FROM vq
), lg AS (
  SELECT doc_id, pos, r,
         CASE WHEN r AND NOT COALESCE(LAG(r) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
              THEN 1 ELSE 0 END AS started
  FROM rep
), runs AS (
  SELECT doc_id, pos, r,
         SUM(started) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM lg
), lens AS (
  SELECT doc_id, pos, r, rid,
         CASE WHEN r THEN COUNT(*) OVER (PARTITION BY doc_id, rid, r) ELSE 0 END AS rl
  FROM runs
)
SELECT doc_id,
       CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS persist_points,
       CAST(SUM(CASE WHEN r AND rl >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_points
FROM lens GROUP BY doc_id
"""

    sql["interpolated"] = BASE_SQL + f"""
, m AS (
  SELECT doc_id, pos,
         CASE WHEN value > {MAXR} OR value < {MINR} THEN NULL ELSE value END AS mv
  FROM base
), f AS (
  SELECT doc_id, pos, mv,
         LAST_VALUE(mv IGNORE NULLS) OVER wp AS pv,
         LAST_VALUE(CASE WHEN mv IS NOT NULL THEN pos END IGNORE NULLS) OVER wp AS pr,
         FIRST_VALUE(mv IGNORE NULLS) OVER wn AS nv,
         FIRST_VALUE(CASE WHEN mv IS NOT NULL THEN pos END IGNORE NULLS) OVER wn AS nr
  FROM m WINDOW
    wp AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wn AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT doc_id, pos, ROUND(CASE
    WHEN mv IS NOT NULL THEN mv
    WHEN pv IS NULL THEN nv
    WHEN nv IS NULL THEN pv
    ELSE pv + (nv - pv) * (pos - pr) / (nr - pr) END, 6) AS observed
FROM f
"""

    sql["dynamic_threshold"] = BASE_SQL + f"""
, t AS (
  SELECT doc_id, pos,
         AVG(value) OVER w AS mu,
         STDDEV_SAMP(value) OVER w AS sd
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING)
)
SELECT doc_id, pos,
       ROUND(mu - GREATEST(1.0, {Z_05!r} * sd), 6) AS low,
       ROUND(mu + GREATEST(1.0, {Z_05!r} * sd), 6) AS high
FROM t
"""

    sql["threshold_detect_counts"] = BASE_SQL + f"""
, t AS (
  SELECT doc_id, pos, value,
         AVG(value) OVER w AS mu,
         STDDEV_SAMP(value) OVER w AS sd
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING)
)
SELECT doc_id,
       CAST(SUM(CASE WHEN value < mu - GREATEST(1.0, {Z_05!r} * sd)
                 OR value > mu + GREATEST(1.0, {Z_05!r} * sd) THEN 1 ELSE 0 END) AS BIGINT) AS n_detected
FROM t GROUP BY doc_id
"""

    sql["anomaly_events"] = BASE_SQL + f"""
, fl AS (
  SELECT doc_id, pos, (value > {MAXR} OR value < {MINR}) AS f,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM base
), wd AS (
  SELECT doc_id, pos,
         (rn > 1 AND rn <= n - 1 AND
          MAX(CASE WHEN f THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1) AS w
  FROM fl
), lg AS (
  SELECT doc_id, pos, w,
         CASE WHEN w AND NOT COALESCE(LAG(w) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
              THEN 1 ELSE 0 END AS started
  FROM wd
), runs AS (
  SELECT doc_id, pos, w,
         SUM(started) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM lg
)
SELECT doc_id, pos, CAST(CASE WHEN w THEN rid ELSE 0 END AS BIGINT) AS event_id FROM runs
"""

    sql["group_bools"] = BASE_SQL + f"""
, fl AS (
  SELECT doc_id, pos, CAST(value > {MAXR} OR value < {MINR} AS INT) AS f FROM base
), lg AS (
  SELECT doc_id, pos,
         CASE WHEN LAG(f) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
                   AND f != LAG(f) OVER (PARTITION BY doc_id ORDER BY pos)
              THEN 1 ELSE 0 END AS chg
  FROM fl
)
SELECT doc_id, pos,
       CAST(SUM(chg) OVER (PARTITION BY doc_id ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS group_id
FROM lg
"""

    CINC_CTE = """
, cinc AS (
  SELECT doc_id, ts, pos, value,
         CASE WHEN LAG(value) OVER w IS NULL OR value IS NULL THEN 0.0
              WHEN value >= LAG(value) OVER w THEN value - LAG(value) OVER w
              ELSE value END AS increment
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)"""

    def _hist_ctes(n: str, tier: int) -> str:
        # fixed-bin histogram replay: bin = clamp(floor((v+5)/35·32));
        # checksum is per-row additive (Σ bin+1); the quantile bin is the
        # bin of the k-th order statistic, found where the rank crosses
        # 100·rnk ≥ q·100·tot — exact integer arithmetic end to end
        return f"""
, hb{n} AS (
  SELECT doc_id, CAST(FLOOR(EPOCH(ts) / {tier}) * {tier} AS BIGINT) AS bucket_s,
         LEAST(GREATEST(CAST(FLOOR((value + 5) / 35.0 * 32) AS INT), 0), 31) AS bin
  FROM base WHERE value IS NOT NULL
), hr{n} AS (
  SELECT doc_id, bucket_s, bin,
         ROW_NUMBER() OVER (PARTITION BY doc_id, bucket_s ORDER BY bin) AS rnk,
         COUNT(*) OVER (PARTITION BY doc_id, bucket_s) AS tot
  FROM hb{n}
), hp{n} AS (
  SELECT doc_id, bucket_s,
         CAST(SUM(bin + 1) AS BIGINT) AS hist_checksum,
         CAST(MIN(CASE WHEN 100 * rnk >= 50 * tot THEN bin END) AS INT) AS p50_bin,
         CAST(MIN(CASE WHEN 100 * rnk >= 95 * tot THEN bin END) AS INT) AS p95_bin
  FROM hr{n} GROUP BY 1, 2
)"""

    def _tier_select(tier: int, label: str, hn: str) -> str:
        return f"""
SELECT '{label}' AS tier, t.doc_id,
       CAST(FLOOR(EPOCH(t.ts) / {tier}) * {tier} AS BIGINT) AS bucket_s,
       COUNT(t.value) AS cnt,
       ROUND(SUM(t.value), 6) AS sum_val,
       ROUND(AVG(t.value), 6) AS avg_val,
       ROUND(MIN(t.value), 6) AS min_val,
       ROUND(MAX(t.value), 6) AS max_val,
       ROUND(arg_min(t.value, t.pos), 6) AS open_val,
       ROUND(arg_max(t.value, t.pos), 6) AS close_val,
       ROUND(SUM(t.increment), 6) AS counter_delta,
       FALSE AS is_gap,
       CAST(COALESCE(ANY_VALUE(h.hist_checksum), 0) AS BIGINT) AS hist_checksum,
       ANY_VALUE(h.p50_bin) AS p50_bin,
       ANY_VALUE(h.p95_bin) AS p95_bin
FROM cinc t
LEFT JOIN hp{hn} h ON h.doc_id = t.doc_id
             AND h.bucket_s = CAST(FLOOR(EPOCH(t.ts) / {tier}) * {tier} AS BIGINT)
GROUP BY t.doc_id, CAST(FLOOR(EPOCH(t.ts) / {tier}) * {tier} AS BIGINT)"""

    def _gapfill_ctes(n: str, tier: int, where: str = "") -> str:
        # dense grid from the per-series span; prev/next non-null values
        # and bucket times via RUNNING frames in both directions (the
        # same shape the engine uses — never a following-unbounded frame)
        return f"""
, ga{n} AS (
  SELECT doc_id, CAST(FLOOR(EPOCH(ts) / {tier}) * {tier} AS BIGINT) AS b,
         COUNT(value) AS cnt, SUM(value) AS sv, AVG(value) AS av,
         MIN(value) AS mn, MAX(value) AS mx
  FROM base {where} GROUP BY 1, 2
), gs{n} AS (SELECT doc_id, MIN(b) AS lo, MAX(b) AS hi FROM ga{n} GROUP BY 1
), gg{n} AS (
  SELECT doc_id, unnest(range(lo, hi + {tier}, {tier})) AS b FROM gs{n}
), gd{n} AS (
  SELECT g.doc_id, g.b, a.cnt, a.sv, a.av, a.mn, a.mx,
         a.doc_id IS NULL AS is_gap
  FROM gg{n} g LEFT JOIN ga{n} a ON a.doc_id = g.doc_id AND a.b = g.b
), gw{n} AS (
  SELECT doc_id, b, cnt, sv, av, mn, mx, is_gap,
         last_value(av IGNORE NULLS) OVER wa AS pav,
         last_value(mn IGNORE NULLS) OVER wa AS pmn,
         last_value(mx IGNORE NULLS) OVER wa AS pmx,
         last_value(CASE WHEN cnt IS NOT NULL THEN b END IGNORE NULLS) OVER wa AS pt,
         last_value(av IGNORE NULLS) OVER wd AS nav,
         last_value(mn IGNORE NULLS) OVER wd AS nmn,
         last_value(mx IGNORE NULLS) OVER wd AS nmx,
         last_value(CASE WHEN cnt IS NOT NULL THEN b END IGNORE NULLS) OVER wd AS nt
  FROM gd{n}
  WINDOW wa AS (PARTITION BY doc_id ORDER BY b ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wd AS (PARTITION BY doc_id ORDER BY b DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)"""

    gap_null_cols = """,
       CAST(NULL AS BIGINT) AS hist_checksum,
       CAST(NULL AS INT) AS p50_bin,
       CAST(NULL AS INT) AS p95_bin"""

    gap_sel_1d = """
SELECT 'gapfill_1d' AS tier, doc_id, b AS bucket_s,
       CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt,
       ROUND(COALESCE(sv, 0), 6) AS sum_val,
       ROUND(CASE WHEN av IS NOT NULL THEN av
             ELSE pav + (nav - pav) * (b - pt) / (nt - pt) END, 6) AS avg_val,
       ROUND(CASE WHEN mn IS NOT NULL THEN mn
             ELSE pmn + (nmn - pmn) * (b - pt) / (nt - pt) END, 6) AS min_val,
       ROUND(CASE WHEN mx IS NOT NULL THEN mx
             ELSE pmx + (nmx - pmx) * (b - pt) / (nt - pt) END, 6) AS max_val,
       CAST(NULL AS DOUBLE) AS open_val,
       CAST(NULL AS DOUBLE) AS close_val,
       CAST(NULL AS DOUBLE) AS counter_delta,
       is_gap""" + gap_null_cols + """
FROM gw1"""

    gap_sel_1h = """
SELECT 'gapfill_1h_s25' AS tier, doc_id, b AS bucket_s,
       CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt,
       ROUND(COALESCE(sv, 0), 6) AS sum_val,
       ROUND(pav, 6) AS avg_val,
       ROUND(CASE WHEN mn IS NOT NULL THEN mn
             ELSE pmn + (nmn - pmn) * (b - pt) / (nt - pt) END, 6) AS min_val,
       ROUND(mx, 6) AS max_val,
       CAST(NULL AS DOUBLE) AS open_val,
       CAST(NULL AS DOUBLE) AS close_val,
       CAST(NULL AS DOUBLE) AS counter_delta,
       is_gap""" + gap_null_cols + """
FROM gw2"""

    # the tiered_1d cascade must equal the direct 1d rollup — same oracle;
    # gapfill_1d = default fills (cnt/sum zero, stats time-interpolated);
    # gapfill_1h_s25 = 6 series, locf avg / interpolated min / NULL max
    sql["rollup_tiers"] = (
        BASE_SQL
        + _gapfill_ctes("1", 86400)
        + _gapfill_ctes("2", 3600, "WHERE CAST(doc_id AS BIGINT) % 25 = 0")
        + CINC_CTE
        + _hist_ctes("q", 900)
        + _hist_ctes("h", 3600)
        + _hist_ctes("d", 86400)
        + "\nUNION ALL".join(
            [
                _tier_select(900, "15min", "q"),
                _tier_select(3600, "1h", "h"),
                _tier_select(86400, "1d", "d"),
                # integer sketch sums are exact, so the COMPOSED 1d
                # sketches must equal the direct-1d replay
                _tier_select(86400, "tiered_1d", "d"),
                gap_sel_1d,
                gap_sel_1h,
            ]
        )
    )

    sql["edge_filter"] = BASE_SQL + """
, st AS (
  SELECT doc_id, pos, value,
         ROW_NUMBER() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY doc_id) AS n,
         SUM(value) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS s_before,
         SUM(value) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s_after
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id, pos,
       ROUND(CASE WHEN rn > 4 AND rn <= n - 4 THEN (s_before - s_after) / 4 ELSE 0.0 END, 6) AS edge_diff
FROM st
"""

    # asof via DuckDB's NATIVE ASOF JOIN (independent of the engine's
    # union-window formulation); sessions via the lag+cumsum island form
    # (independent of Spark's session_window aggregate)
    sql["business_hours"] = BASE_SQL + """
, bh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN dayofweek(ts) BETWEEN 1 AND 5 AND hour(ts) BETWEEN 7 AND 17
                  THEN 1 ELSE 0 END) AS BIGINT) AS business_rows
  FROM base GROUP BY doc_id
), mk AS (
  SELECT doc_id, ts, value AS mark FROM base WHERE pos % 50 = 0
), aj AS (
  SELECT b.doc_id, m.mark
  FROM base b ASOF LEFT JOIN mk m ON b.doc_id = m.doc_id AND b.ts >= m.ts
), aja AS (
  SELECT doc_id, CAST(COUNT(mark) AS BIGINT) AS asof_n,
         ROUND(SUM(mark), 6) AS asof_sum
  FROM aj GROUP BY doc_id
), sd AS (
  SELECT doc_id, ts,
         CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY doc_id ORDER BY ts)) > 21600
              THEN 1 ELSE 0 END AS ns
  FROM base
), si AS (
  SELECT doc_id,
         SUM(ns) OVER (PARTITION BY doc_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM sd
), sa AS (
  SELECT doc_id, sid, COUNT(*) AS n FROM si GROUP BY 1, 2
), sg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(MAX(n) AS BIGINT) AS max_sess_rows
  FROM sa GROUP BY doc_id
)
SELECT bh.doc_id, bh.business_rows, aja.asof_n, aja.asof_sum,
       sg.n_sessions, sg.max_sess_rows
FROM bh JOIN aja ON aja.doc_id = bh.doc_id
JOIN sg ON sg.doc_id = bh.doc_id
"""

    sql["drift_ramp"] = BASE_SQL + """
, b AS (
  SELECT doc_id, pos, value,
         (ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00') AS inw
  FROM base
), r AS (
  SELECT doc_id, pos, value, inw,
         ROW_NUMBER() OVER (PARTITION BY doc_id, inw ORDER BY pos) - 1 AS i,
         COUNT(*) OVER (PARTITION BY doc_id, inw) AS cnt
  FROM b
)
SELECT doc_id, pos,
       ROUND(CASE WHEN inw THEN value + (-50.0) / (cnt - 1) * i ELSE value END, 6) AS ldc
FROM r
"""

    # find_gap semantics (reference calibration.py): within the ±2h window
    # (= ±120 pos at the synthetic 60s cadence), d = x_t − x_{t−1},
    # f = x_{t+1} − x_t; at argmax|d| (first on ties): gap = d+f if they
    # disagree in sign (spike rule) else d; end = pos of argmax|f|
    sql["find_gaps"] = BASE_SQL + """
, cd AS (SELECT doc_id FROM base WHERE pos = 40),
w AS (
  -- f mirrors pandas shift(-1).diff(): NULL on the window's FIRST row
  -- (no t-1 for the shifted series) as well as the last
  SELECT b.doc_id, b.pos,
         b.value - LAG(b.value) OVER wp AS d,
         CASE WHEN LAG(b.value) OVER wp IS NULL THEN NULL
              ELSE LEAD(b.value) OVER wp - b.value END AS f
  FROM base b JOIN cd ON cd.doc_id = b.doc_id
  WHERE b.pos BETWEEN 40 - 120 AND 40 + 120
  WINDOW wp AS (PARTITION BY b.doc_id ORDER BY b.pos)
), mx AS (
  SELECT doc_id, d, f FROM (
    SELECT doc_id, d, f,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ABS(d) DESC NULLS LAST, pos) AS rn
    FROM w) WHERE rn = 1
), en AS (
  SELECT doc_id, pos AS end_pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ABS(f) DESC NULLS LAST, pos) AS rn
    FROM w) WHERE rn = 1
)
SELECT mx.doc_id,
       ROUND(CASE WHEN mx.d * mx.f < 0 THEN mx.d + mx.f ELSE mx.d END, 6) AS gap,
       CAST(en.end_pos AS BIGINT) AS end_pos
FROM mx JOIN en ON en.doc_id = mx.doc_id
"""

    # chained drift correction in additive closed form: event windows
    # [10,30] gap −5 and [30,50] gap +3; pos values are consecutive so
    # i = pos − start and cnt comes from the per-doc row counts; events
    # with cnt < 2 are skipped (kernel contract)
    sql["drift_correct"] = BASE_SQL + """
, nev AS (
  SELECT doc_id,
         SUM(CASE WHEN pos BETWEEN 10 AND 30 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN pos BETWEEN 30 AND 50 THEN 1 ELSE 0 END) AS c2
  FROM base GROUP BY doc_id
)
SELECT b.doc_id, b.pos,
       ROUND(b.value
         + CASE WHEN b.pos BETWEEN 10 AND 30 AND n.c1 >= 2
                THEN -5.0 / (n.c1 - 1) * (b.pos - 10) ELSE 0 END
         + CASE WHEN b.pos BETWEEN 30 AND 50 AND n.c2 >= 2
                THEN 3.0 / (n.c2 - 1) * (b.pos - 30) ELSE 0 END, 6) AS drift_cor
FROM base b JOIN nev n ON n.doc_id = b.doc_id
"""

    sql["tokenize_stats"] = BASE_SQL + """
, q AS (
  SELECT doc_id, CAST(round_even(value / 500.0 * 65535, 0) AS BIGINT) AS tok FROM base
)
SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(tok) AS BIGINT) AS tok_sum,
       MIN(tok) AS tok_min, MAX(tok) AS tok_max
FROM q GROUP BY doc_id
"""

    sql["params_join"] = BASE_SQL + """
, dim AS (
  SELECT * FROM (VALUES (0, 400.0, 5.0), (1, 350.0, 5.0), (2, 300.0, 5.0),
                        (3, 250.0, 5.0), (4, 200.0, 5.0)) AS t(bucket, mx, mn)
)
SELECT CAST(dim.bucket AS BIGINT) AS bucket,
       CAST(SUM(CASE WHEN b.value > dim.mx OR b.value < dim.mn THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM base b JOIN dim ON CAST(b.doc_id AS BIGINT) % 5 = dim.bucket
GROUP BY dim.bucket
"""

    sql["dedup_groups"] = r"""
SELECT 'exact' AS method, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
FROM documents GROUP BY md5(text)
UNION ALL
SELECT 'wordset' AS method, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
FROM documents
GROUP BY md5(array_to_string(list_sort(list_distinct(
  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''))), ' '))
"""


    # mirrors the engine's default skew guard: tokens in > 50% of docs are
    # dropped before pairing (part of the operator contract)
    sql["jaccard_all"] = r"""
WITH w0_w AS (
  SELECT doc_id, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''))) AS wd
  FROM documents
), hot_w AS (
  SELECT wd FROM w0_w GROUP BY wd
  HAVING COUNT(DISTINCT doc_id) > 0.5 * (SELECT COUNT(*) FROM documents)
), w_w AS (
  SELECT * FROM w0_w WHERE wd NOT IN (SELECT wd FROM hot_w)
), sz_w AS (
  SELECT doc_id, COUNT(*) AS sz FROM w_w GROUP BY doc_id
), c_w AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS common
  FROM w_w a JOIN w_w b ON a.wd = b.wd AND a.doc_id < b.doc_id
  GROUP BY ia, ib
), out_w AS (
  SELECT 'word' AS kind, ia AS id_a, ib AS id_b,
         ROUND(common * 1.0 / (sa.sz + sb.sz - common), 6) AS jaccard
  FROM c_w
  JOIN sz_w sa ON sa.doc_id = ia
  JOIN sz_w sb ON sb.doc_id = ib
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.8
),
w0_c AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(1, length(lower(text)) - 3) + 1),
    i -> substr(lower(text), CAST(i AS INT), 4)))) AS wd
  FROM documents
), hot_c AS (
  SELECT wd FROM w0_c GROUP BY wd
  HAVING COUNT(DISTINCT doc_id) > 0.5 * (SELECT COUNT(*) FROM documents)
), w_c AS (
  SELECT * FROM w0_c WHERE wd NOT IN (SELECT wd FROM hot_c)
), sz_c AS (
  SELECT doc_id, COUNT(*) AS sz FROM w_c GROUP BY doc_id
), c_c AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS common
  FROM w_c a JOIN w_c b ON a.wd = b.wd AND a.doc_id < b.doc_id
  GROUP BY ia, ib
), out_c AS (
  SELECT 'char4' AS kind, ia AS id_a, ib AS id_b,
         ROUND(common * 1.0 / (sa.sz + sb.sz - common), 6) AS jaccard
  FROM c_c
  JOIN sz_c sa ON sa.doc_id = ia
  JOIN sz_c sb ON sb.doc_id = ib
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.4
)
SELECT * FROM out_w UNION ALL SELECT * FROM out_c
"""

    # char-4-gram Jaccard with the same >50%-doc-freq stopgram cut

    # same md5-derived LSH tables as lsh_topk, then exact cosine >= 0.35 on
    # bucket-sharing pairs (a < b)
    # method='lsh': sign-LSH bucket self-join over full vectors.
    # method='ivfpq': the corpus (embeddings + md5-perturbed twins for
    # vec_id%5=0) is IVF-assigned to its 2 nearest md5 centroids, PQ-coded
    # against the ×0.125 md5 sub-codebooks, same-cell pairs scored by the
    # symmetric sub-codeword distance table, SDC ≤ 0.15 reranked exactly.
    sql["embed_dup_pairs"] = """
WITH planes AS (
  SELECT t, p, list_transform(range(0, 64), d ->
    CAST(('0x' || substr(md5(CAST(t AS VARCHAR) || '|' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0
  ) AS pv
  FROM (SELECT unnest(range(0, 8)) AS t) ts CROSS JOIN (SELECT unnest(range(0, 4)) AS p) ps
), emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), bucketed AS (
  SELECT vec_id, t,
         SUM(CASE WHEN list_dot_product(e, pv) >= 0 THEN (1 << CAST(p AS INT)) ELSE 0 END) AS bucket
  FROM emb CROSS JOIN planes
  GROUP BY vec_id, t
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucketed a JOIN bucketed b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), lsh AS (
  SELECT id_a, id_b, ROUND(cos, 6) AS cosine FROM (
    SELECT c.id_a, c.id_b, list_cosine_similarity(ea.e, eb.e) AS cos
    FROM cand c
    JOIN emb ea ON ea.vec_id = c.id_a
    JOIN emb eb ON eb.vec_id = c.id_b
  ) WHERE cos >= 0.35
), twin AS (
  SELECT t.vec_id + 100000 AS vec_id,
         list_transform(range(0, 64), d -> t.e[CAST(d AS INT) + 1] + 0.03 * (
           CAST(('0x' || substr(md5('dup|' || CAST(t.vec_id AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
             / 576460752303423488.0 - 1.0)) AS e
  FROM emb t WHERE t.vec_id % 5 = 0
), corpus AS (
  SELECT vec_id, e FROM emb UNION ALL SELECT vec_id, e FROM twin
), icents AS (
  SELECT c, list_transform(range(0, 64), d ->
    CAST(('0x' || substr(md5('ivf|' || CAST(c AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0
  ) AS cv
  FROM (SELECT unnest(range(0, 16)) AS c) cs
), pcents AS (
  SELECT j, c, list_transform(range(0, 8), dd ->
    (CAST(('0x' || substr(md5('pq|' || CAST(j AS VARCHAR) || '|' || CAST(c AS VARCHAR)
          || '|' || CAST(j * 8 + dd AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0) * 0.125
  ) AS cv
  FROM (SELECT unnest(range(0, 8)) AS j) js
  CROSS JOIN (SELECT unnest(range(0, 16)) AS c) cs
), cemb AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS en
  FROM corpus
), idists AS (
  SELECT vec_id, c,
         list_dot_product(cv, cv) - 2 * list_dot_product(en, cv) AS d
  FROM cemb CROSS JOIN icents
), asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, c AS cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM idists) WHERE rn <= 2
), sub AS (
  SELECT vec_id, j, list_slice(en, j * 8 + 1, (j + 1) * 8) AS s
  FROM cemb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js
), d2 AS (
  SELECT sub.vec_id, sub.j, pcents.c,
         list_dot_product(pcents.cv, pcents.cv) - 2 * list_dot_product(sub.s, pcents.cv) AS d
  FROM sub JOIN pcents ON pcents.j = sub.j
), codes AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
    FROM d2) WHERE rn = 1
), cpairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
), pcd AS (
  SELECT a.j, a.c AS ca, b.c AS cb,
         list_dot_product(a.cv, a.cv) + list_dot_product(b.cv, b.cv)
           - 2 * list_dot_product(a.cv, b.cv) AS d
  FROM pcents a JOIN pcents b ON a.j = b.j
), sdc AS (
  SELECT p.id_a, p.id_b, SUM(pcd.d) AS sdc
  FROM cpairs p
  JOIN codes ca ON ca.vec_id = p.id_a
  JOIN codes cb ON cb.vec_id = p.id_b AND cb.j = ca.j
  JOIN pcd ON pcd.j = ca.j AND pcd.ca = ca.code AND pcd.cb = cb.code
  GROUP BY p.id_a, p.id_b
), ivfdup AS (
  SELECT s.id_a, s.id_b, ROUND(list_cosine_similarity(ea.e, eb.e), 6) AS cosine
  FROM sdc s
  JOIN corpus ea ON ea.vec_id = s.id_a
  JOIN corpus eb ON eb.vec_id = s.id_b
  WHERE s.sdc <= 0.15 AND list_cosine_similarity(ea.e, eb.e) >= 0.9
)
SELECT 'lsh' AS method, id_a, id_b, cosine FROM lsh
UNION ALL
SELECT 'ivfpq' AS method, id_a, id_b, cosine FROM ivfdup
"""

    sql["ann_topk"] = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5)
SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (
  SELECT q.qid, e.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.qid
           ORDER BY list_cosine_similarity(e.embedding, q.qe) DESC, e.vec_id) AS rank
  FROM embeddings e, q WHERE e.vec_id != q.qid
) WHERE rank <= 10
"""

    # IVF-flat with hash-derived centroids: one cell per vector (argmin of
    # |c|^2 - 2*v.c, ties to lower cell), query probes 4 nearest cells
    sql["ivf_topk"] = """
WITH cents AS (
  SELECT c, list_transform(range(0, 64), d ->
    CAST(('0x' || substr(md5('ivf|' || CAST(c AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0
  ) AS cv
  FROM (SELECT unnest(range(0, 16)) AS c) cs
), emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), dists AS (
  SELECT vec_id, e, c,
         list_dot_product(cv, cv) - 2 * list_dot_product(e, cv) AS d
  FROM emb CROSS JOIN cents
), asg AS (
  SELECT vec_id, e, c AS cell FROM (
    SELECT vec_id, e, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM dists) WHERE rn = 1
), qprobe AS (
  SELECT vec_id AS query_id, e AS qe, c AS cell FROM (
    SELECT vec_id, e, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM dists WHERE vec_id < 5) WHERE rn <= 4
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
           ORDER BY list_cosine_similarity(a.e, q.qe) DESC, a.vec_id) AS rank
  FROM qprobe q JOIN asg a ON a.cell = q.cell AND a.vec_id != q.query_id
) WHERE rank <= 10
"""

    sql["text_quality"] = r"""
WITH s AS (
  SELECT doc_id, n_chars,
         length(text) AS nc,
         length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS alnum,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS words
  FROM documents
), bg AS (
  SELECT doc_id, b['prev'] AS prev, b['cur'] AS cur FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(words)),
           i -> {'prev': words[i], 'cur': words[i + 1]})) AS b
    FROM s
  )
), c2 AS (
  SELECT prev, cur, COUNT(*) AS c2 FROM bg GROUP BY prev, cur
), c1 AS (
  SELECT prev, COUNT(*) AS c1 FROM bg GROUP BY prev
), vv AS (
  SELECT COUNT(DISTINCT wd) AS V FROM (
    SELECT prev AS wd FROM bg UNION ALL SELECT cur FROM bg)
), ppl AS (
  SELECT bg.doc_id,
         -AVG(log2((c2.c2 + 1) * 1.0 / (c1.c1 + vv.V))) AS log2_ppl
  FROM bg
  JOIN c2 ON c2.prev = bg.prev AND c2.cur = bg.cur
  JOIN c1 ON c1.prev = bg.prev
  CROSS JOIN vv
  GROUP BY bg.doc_id
), bgs AS (
  SELECT doc_id, prev || ' ' || cur AS g FROM bg
), bgc AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bgs GROUP BY doc_id, g
), top2 AS (
  SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top2gram_frac FROM bgc GROUP BY doc_id
), g5 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words) - 3),
         i -> array_to_string(words[i:i+4], ' '))) AS g
  FROM s WHERE len(words) >= 5
), dup5 AS (
  SELECT doc_id, 1.0 - COUNT(DISTINCT g) * 1.0 / COUNT(*) AS dup5gram_frac
  FROM g5 GROUP BY doc_id
)
SELECT s.doc_id AS id,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(list_aggregate(list_transform(words, x -> length(x)), 'sum') * 1.0 / len(words), 6) AS avg_word_len,
       ROUND((
         (CASE WHEN nc BETWEEN 64 AND 100000 THEN 1.0 ELSE LEAST(nc / 64.0, 1.0) END)
         + len(list_distinct(words)) * 1.0 / GREATEST(len(words), 1)
         + alnum * 1.0 / GREATEST(nc, 1)
       ) / 3.0, 6) AS quality,
       CAST(len(words) AS BIGINT) AS ws_tokens,
       ROUND(ppl.log2_ppl, 6) AS log2_ppl,
       ROUND(top2.top2gram_frac, 6) AS top2gram_frac,
       ROUND(dup5.dup5gram_frac, 6) AS dup5gram_frac
FROM s LEFT JOIN ppl ON ppl.doc_id = s.doc_id
LEFT JOIN top2 ON top2.doc_id = s.doc_id
LEFT JOIN dup5 ON dup5.doc_id = s.doc_id
"""



    # u = md5-60(doc_id|seed)/2^60 — the engine's deterministic sampling
    # draw, replayed literally; quota = 40 smallest-u per lang; budget =
    # greedy u-order prefix while chars consumed before the doc < 50000
    sql["lang_stats"] = """
WITH u AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|gate'), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS ug,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|s0'), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS us
  FROM documents
), base AS (
  SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars
  FROM documents GROUP BY lang
), samp AS (
  SELECT lang, COUNT(*) AS samp_docs, CAST(SUM(doc_id) AS BIGINT) AS samp_id_sum
  FROM u WHERE ug < 0.2 GROUP BY lang
), quota AS (
  SELECT lang, COUNT(*) AS quota_docs, CAST(SUM(doc_id) AS BIGINT) AS quota_id_sum
  FROM (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY us, doc_id) AS rn
    FROM u
  ) WHERE rn <= 40 GROUP BY lang
), bud AS (
  SELECT lang, COUNT(*) AS budget_docs,
         CAST(SUM(n_chars) AS BIGINT) AS budget_chars,
         CAST(SUM(doc_id) AS BIGINT) AS budget_id_sum
  FROM (
    SELECT lang, doc_id, n_chars,
           COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY us, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM u
  ) WHERE cb < 50000 GROUP BY lang
)
SELECT base.lang, base.n_docs, base.avg_chars,
       samp.samp_docs, samp.samp_id_sum,
       quota.quota_docs, quota.quota_id_sum,
       bud.budget_docs, bud.budget_chars, bud.budget_id_sum
FROM base
LEFT JOIN samp  ON samp.lang  = base.lang
LEFT JOIN quota ON quota.lang = base.lang
LEFT JOIN bud   ON bud.lang   = base.lang
"""

    # ARI(1,1): y = Δx; φ = Σ(y·y₋₁)/Σ(y₋₁²) over rows with both lags
    # (no intercept when d=1, arima_residuals_sql), stabilized exactly like
    # the engine; pred = x₋₁ + φ·coalesce(y₋₁, 0); first row's resid pinned 0
    sql["ar1_residuals"] = BASE_SQL + """
, dx AS (
  SELECT doc_id, pos, value,
         value - LAG(value) OVER w AS y,
         LAG(value) OVER w AS xl1,
         ROW_NUMBER() OVER w AS rn
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), dl AS (
  SELECT *, LAG(y) OVER (PARTITION BY doc_id ORDER BY pos) AS yl FROM dx
), coef AS (
  SELECT doc_id, SUM(y * yl) / SUM(yl * yl) AS phi_raw
  FROM dl WHERE y IS NOT NULL AND yl IS NOT NULL GROUP BY doc_id
), c2 AS (
  SELECT doc_id,
         CASE WHEN ABS(phi_raw) >= 1 THEN phi_raw * 0.98 / ABS(phi_raw)
              ELSE phi_raw END AS phi
  FROM coef
)
SELECT d.doc_id, d.pos,
       ROUND(CASE WHEN d.rn <= 1 THEN 0.0
                  ELSE d.value - (d.xl1 + c2.phi * COALESCE(d.yl, 0.0)) END, 6) AS residual
FROM dl d JOIN c2 ON c2.doc_id = d.doc_id
"""

    # ARIMA(1,1,1) with FIXED coefficients (φ=0.6137215, θ=0.2918467, c=0):
    # the level
    # residual equals the innovation e_t = Σ_j (−θ)^j z_{t−j} with
    # z_t = y_t − φ·y_{t−1} (pre-sample lags 0), truncated at j≤40
    # (0.29^40 ≈ 3e-22, far below the 6dp compare); prediction = x − e.
    # Row pos 0 is pinned (resid 0, pred x) exactly like apply_arima.
    sql["ar11_residuals"] = BASE_SQL + """
, dif AS (
  SELECT doc_id, pos, value AS x,
         value - LAG(value) OVER (PARTITION BY doc_id ORDER BY pos) AS y
  FROM base
), z AS (
  SELECT doc_id, pos, x, y,
         y - 0.6137215 * COALESCE(LAG(y) OVER (PARTITION BY doc_id ORDER BY pos), 0.0) AS z
  FROM dif WHERE pos >= 1
), e AS (
  SELECT a.doc_id, a.pos,
         SUM(power(-0.2918467, a.pos - b.pos) * b.z) AS e
  FROM z a JOIN z b
    ON a.doc_id = b.doc_id AND b.pos <= a.pos AND b.pos >= a.pos - 40
  GROUP BY a.doc_id, a.pos
)
SELECT d.doc_id, d.pos,
       ROUND(CASE WHEN d.pos = 0 THEN 0.0 ELSE e.e END, 6) AS residual,
       ROUND(CASE WHEN d.pos = 0 THEN d.x ELSE d.x - e.e END, 6) AS prediction
FROM dif d LEFT JOIN e ON e.doc_id = d.doc_id AND e.pos = d.pos
UNION ALL
-- r6 exact-MLE fit contract: literal expected (c, phi..., theta..., nll)
-- of the engine's Kalman-likelihood ARMA fit on the frozen fixtures
-- (a SQL engine cannot run the filter; the frozen fit is the oracle)
SELECT * FROM (VALUES
  ('mle:s0', CAST(0 AS BIGINT), 0.542363, CAST(NULL AS DOUBLE)),
  ('mle:s0', CAST(1 AS BIGINT), 0.525323, CAST(NULL AS DOUBLE)),
  ('mle:s0', CAST(2 AS BIGINT), 0.345585, CAST(NULL AS DOUBLE)),
  ('mle:s0', CAST(3 AS BIGINT), -10.584617, CAST(NULL AS DOUBLE)),
  ('mle:s1', CAST(0 AS BIGINT), 0.011439, CAST(NULL AS DOUBLE)),
  ('mle:s1', CAST(1 AS BIGINT), 0.552255, CAST(NULL AS DOUBLE)),
  ('mle:s1', CAST(2 AS BIGINT), -0.277896, CAST(NULL AS DOUBLE)),
  ('mle:s1', CAST(3 AS BIGINT), 0.378288, CAST(NULL AS DOUBLE)),
  ('mle:s1', CAST(4 AS BIGINT), -9.861965, CAST(NULL AS DOUBLE))
) v(doc_id, pos, residual, prediction)
"""

    # windowed 2-lag OLS head (no intercept, no ridge → Cramer closed form),
    # residuals NULL outside the modeled region (rn<=2), then the same
    # dynamic-threshold detection as the engine
    sql["windowed_detect_counts"] = BASE_SQL + f"""
, lag2 AS (
  SELECT doc_id, pos, value,
         LAG(value, 1) OVER w AS l1, LAG(value, 2) OVER w AS l2,
         ROW_NUMBER() OVER w AS rn
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), m AS (
  SELECT doc_id,
         SUM(l1*l1) AS s11, SUM(l1*l2) AS s12, SUM(l2*l2) AS s22,
         SUM(value*l1) AS s01, SUM(value*l2) AS s02
  FROM lag2 WHERE rn > 2 GROUP BY doc_id
), beta AS (
  SELECT doc_id,
         (s01*s22 - s02*s12) / (s11*s22 - s12*s12) AS b1,
         (s02*s11 - s01*s12) / (s11*s22 - s12*s12) AS b2
  FROM m
), resid AS (
  SELECT l.doc_id, l.pos,
         CASE WHEN l.rn > 2 THEN l.value - (beta.b1*l.l1 + beta.b2*l.l2) END AS r
  FROM lag2 l JOIN beta ON beta.doc_id = l.doc_id
), thr AS (
  SELECT doc_id, pos, r,
         AVG(r) OVER w AS mu, STDDEV_SAMP(r) OVER w AS sd
  FROM resid WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING)
)
SELECT doc_id,
       CAST(SUM(CASE WHEN r < mu - GREATEST(1.0, {Z_05!r} * sd)
                      OR r > mu + GREATEST(1.0, {Z_05!r} * sd) THEN 1 ELSE 0 END) AS BIGINT) AS n_detected
FROM thr GROUP BY doc_id
"""

    # bidir: same chain as windowed_detect_counts but the 2 features are
    # LAG and LEAD; the modeled region is exactly the rows where both exist
    sql["windowed_bidir_counts"] = BASE_SQL + f"""
, lf AS (
  SELECT doc_id, pos, value,
         LAG(value, 1) OVER w AS l1, LEAD(value, 1) OVER w AS f1
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), m AS (
  SELECT doc_id,
         SUM(l1*l1) AS s11, SUM(l1*f1) AS s12, SUM(f1*f1) AS s22,
         SUM(value*l1) AS s01, SUM(value*f1) AS s02
  FROM lf WHERE l1 IS NOT NULL AND f1 IS NOT NULL GROUP BY doc_id
), beta AS (
  SELECT doc_id,
         (s01*s22 - s02*s12) / (s11*s22 - s12*s12) AS b1,
         (s02*s11 - s01*s12) / (s11*s22 - s12*s12) AS b2
  FROM m
), resid AS (
  SELECT l.doc_id, l.pos,
         CASE WHEN l.l1 IS NOT NULL AND l.f1 IS NOT NULL
              THEN l.value - (beta.b1*l.l1 + beta.b2*l.f1) END AS r
  FROM lf l JOIN beta ON beta.doc_id = l.doc_id
), thr AS (
  SELECT doc_id, pos, r,
         AVG(r) OVER w AS mu, STDDEV_SAMP(r) OVER w AS sd
  FROM resid WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING)
)
SELECT doc_id,
       CAST(SUM(CASE WHEN r < mu - GREATEST(1.0, {Z_05!r} * sd)
                      OR r > mu + GREATEST(1.0, {Z_05!r} * sd) THEN 1 ELSE 0 END) AS BIGINT) AS n_detected
FROM thr GROUP BY doc_id
"""

    # multivar: adjacent users paired as two sensors of one site (common
    # length, both-sensor sites only); each head solves the shared 2-lag-1
    # feature block by Cramer
    sql["multivar_residuals"] = """
WITH base AS (
  SELECT CAST(user_id // 2 AS VARCHAR) AS site,
         's' || CAST(user_id % 2 AS VARCHAR) AS sensor,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS pos,
         CAST(value AS DOUBLE) AS observed
  FROM events
), lens AS (
  SELECT site, sensor, MAX(pos) AS mx FROM base GROUP BY site, sensor
), sites AS (
  SELECT site, MIN(mx) AS mn FROM lens GROUP BY site HAVING COUNT(*) = 2
), frame AS (
  SELECT b.site, b.sensor, b.pos, b.observed
  FROM base b JOIN sites s ON s.site = b.site AND b.pos <= s.mn
), wide AS (
  SELECT site, pos,
         MAX(CASE WHEN sensor = 's0' THEN observed END) AS a,
         MAX(CASE WHEN sensor = 's1' THEN observed END) AS b
  FROM frame GROUP BY site, pos
), feat AS (
  SELECT site, pos, a, b,
         LAG(a) OVER w AS la, LAG(b) OVER w AS lb
  FROM wide WINDOW w AS (PARTITION BY site ORDER BY pos)
), m AS (
  SELECT site,
         SUM(la*la) AS s11, SUM(la*lb) AS s12, SUM(lb*lb) AS s22,
         SUM(a*la) AS sa1, SUM(a*lb) AS sa2,
         SUM(b*la) AS sb1, SUM(b*lb) AS sb2
  FROM feat WHERE la IS NOT NULL GROUP BY site
), beta AS (
  SELECT site,
         (sa1*s22 - sa2*s12) / (s11*s22 - s12*s12) AS a1,
         (sa2*s11 - sa1*s12) / (s11*s22 - s12*s12) AS a2,
         (sb1*s22 - sb2*s12) / (s11*s22 - s12*s12) AS b1,
         (sb2*s11 - sb1*s12) / (s11*s22 - s12*s12) AS b2
  FROM m
), resid AS (
  SELECT f.site, f.pos, f.a - (beta.a1*f.la + beta.a2*f.lb) AS ra,
         f.b - (beta.b1*f.la + beta.b2*f.lb) AS rb
  FROM feat f JOIN beta ON beta.site = f.site
  WHERE f.pos >= 1
)
SELECT site, 's0' AS sensor, pos, ROUND(ra, 6) AS residual FROM resid
UNION ALL
SELECT site, 's1' AS sensor, pos, ROUND(rb, 6) AS residual FROM resid
"""

    # ---- portable-hash oracles (md5_60(x) = CAST('0x'||substr(md5(x),1,15) AS BIGINT),
    # identical to Spark conv(substring(md5(x),1,15),16,10)) ----


    sql["simhash"] = r"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''))) AS wd
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(wd), 1, 15)) AS BIGINT) AS hv FROM w
), b AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (hv >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j) bits
  GROUP BY doc_id, j
), s AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS sh
  FROM b GROUP BY doc_id
)
SELECT d.doc_id AS id, CAST(COALESCE(s.sh, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
"""

    # one md5 base hash per shingle (mod 2^31-1), then the same md5-derived
    # universal-hash permutation constants the engine uses (minhash_params)
    from pyhydroqc_spark.textops.dedup import MERSENNE31, minhash_params

    perm_entries = ",\n      ".join(
        f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {MERSENNE31}))"
        for a, b in minhash_params(32)
    )
    sql["minhash_candidates"] = rf"""
WITH d AS (SELECT doc_id, lower(text) AS c FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(1, length(c) - 4) + 1),
                        i -> substr(c, CAST(i AS INT), 5)) AS gs
  FROM d
), hs AS (
  SELECT doc_id,
         list_transform(gs,
           g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {MERSENNE31}) AS hv
  FROM sh
), sig AS (
  SELECT doc_id, [
      {perm_entries}
  ] AS sg
  FROM hs
), banded AS (
  SELECT doc_id, b,
         CAST(('0x' || substr(md5(array_to_string(
           list_transform(array_slice(sg, CAST(b * 4 + 1 AS INT), CAST(b * 4 + 4 AS INT)),
                          v -> CAST(v AS VARCHAR)), ',')), 1, 15)) AS BIGINT) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands
)
SELECT a.doc_id AS id_a, b2.doc_id AS id_b
FROM banded a
JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
GROUP BY 1, 2
"""

    # simhash quarter-band LSH + exact hamming recheck, on the same md5
    # 60-bit signatures as the simhash oracle
    sql["simhash_pairs"] = r"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''))) AS wd
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(wd), 1, 15)) AS BIGINT) AS hv FROM w
), b AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (hv >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j) bits
  GROUP BY doc_id, j
), s AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS sh
  FROM b GROUP BY doc_id
), sig AS (
  SELECT d.doc_id AS id, CAST(COALESCE(s.sh, 0) AS BIGINT) AS hv
  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
), banded AS (
  SELECT id, hv, q, (hv >> CAST(q * 16 AS INT)) & 65535 AS qv
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS q) qs
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b, a.hv AS ha, b2.hv AS hb
  FROM banded a JOIN banded b2 ON a.q = b2.q AND a.qv = b2.qv AND a.id < b2.id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
"""

    # persist_candidates: persistence groups (first row of an equal run
    # excluded), extended one row EARLIER (reference shift(-1) quirk),
    # extended length in [3,7] flags the rows, gated to business hours.
    # ts = T0 + 3600·pos with T0 = Monday midnight UTC, so hour = pos%24
    # and weekday index = (pos/24)%7 with 0 = Monday — pure arithmetic,
    # no timezone traps
    sql["persist_calib_counts"] = BASE_SQL + """
, vq AS (SELECT doc_id, pos, ROUND(value / 50) AS v FROM base),
rep AS (
  SELECT doc_id, pos,
         COALESCE(v = LAG(v) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS r
  FROM vq
), lg AS (
  SELECT doc_id, pos, r,
         CASE WHEN r AND NOT COALESCE(LAG(r) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
              THEN 1 ELSE 0 END AS started
  FROM rep
), runs AS (
  SELECT doc_id, pos, r,
         CASE WHEN r THEN SUM(started) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ELSE 0 END AS grp
  FROM lg
), lens AS (
  SELECT doc_id, pos, grp,
         CASE WHEN grp > 0 THEN COUNT(*) OVER (PARTITION BY doc_id, grp) ELSE 0 END AS rl
  FROM runs
), anom AS (
  SELECT doc_id, pos, grp, (grp > 0 AND rl >= 3) AS a FROM lens
), ext AS (
  SELECT doc_id, pos, a,
         CASE WHEN grp = 0 AND COALESCE(LEAD(grp) OVER (PARTITION BY doc_id ORDER BY pos), 0) > 0
              THEN LEAD(grp) OVER (PARTITION BY doc_id ORDER BY pos)
              ELSE grp END AS egrp
  FROM anom
), elen AS (
  SELECT doc_id, pos, a, egrp,
         CASE WHEN egrp > 0 THEN COUNT(*) OVER (PARTITION BY doc_id, egrp) ELSE 0 END AS el
  FROM ext
)
SELECT doc_id,
       CAST(SUM(CASE WHEN (a OR (egrp > 0 AND el BETWEEN 3 AND 7))
                      AND (pos % 24) BETWEEN 7 AND 17
                      AND (CAST(FLOOR(pos / 24) AS INT) % 7) BETWEEN 0 AND 4
                THEN 1 ELSE 0 END) AS BIGINT) AS n_calib
FROM elen GROUP BY doc_id
"""

    # two detectors (rules range + dynamic threshold), each ±1-widened with
    # the edge forcing, OR'd per point (detected_event>0 ⟺ the widened flag)
    sql["aggregate_results"] = BASE_SQL + f"""
, t AS (
  SELECT doc_id, pos, value,
         AVG(value) OVER w AS mu, STDDEV_SAMP(value) OVER w AS sd
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING)
), fl AS (
  SELECT doc_id, pos,
         (value > {MAXR} OR value < {MINR}) AS f1,
         (value < mu - GREATEST(1.0, {Z_05!r} * sd)
          OR value > mu + GREATEST(1.0, {Z_05!r} * sd)) AS f2,
         ROW_NUMBER() OVER wp AS rn, COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM t WINDOW wp AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id, pos,
       ((rn > 1 AND rn <= n - 1 AND MAX(CASE WHEN f1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1)
        OR
        (rn > 1 AND rn <= n - 1 AND MAX(CASE WHEN f2 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1)
       ) AS any_detected
FROM fl
"""

    # the compare_events state machine as lag+cumsum: a new group starts on
    # a (labeled_event, detected_event) transition out of/into (0,0) or
    # when BOTH ids change; groups are categorized on exit only (the
    # trailing group never is — reference quirk), wf edge rows excluded
    # shared compare_events chain (labels value>420, detections value>400,
    # wf=1 widen + reference edge/exit/trailing-group quirks) → per-row
    # confusion category c — the tail differs between point_metrics
    # (row counts) and event_metrics (transition counts)
    cm_sql = BASE_SQL + """
, fl AS (
  SELECT doc_id, pos, (value > 420) AS lf, (value > 400) AS df_,
         ROW_NUMBER() OVER wp AS rn, COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM base WINDOW wp AS (PARTITION BY doc_id ORDER BY pos)
), wd AS (
  SELECT doc_id, pos,
         (rn > 1 AND rn <= n - 1 AND MAX(CASE WHEN lf THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1) AS lw,
         (rn > 1 AND rn <= n - 1 AND MAX(CASE WHEN df_ THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1) AS dw
  FROM fl
), lg AS (
  SELECT doc_id, pos, lw, dw,
         CASE WHEN lw AND NOT COALESCE(LAG(lw) OVER wp, FALSE) THEN 1 ELSE 0 END AS lst,
         CASE WHEN dw AND NOT COALESCE(LAG(dw) OVER wp, FALSE) THEN 1 ELSE 0 END AS dst
  FROM wd WINDOW wp AS (PARTITION BY doc_id ORDER BY pos)
), evt AS (
  SELECT doc_id, pos,
         CASE WHEN lw THEN SUM(lst) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ELSE 0 END AS la,
         CASE WHEN dw THEN SUM(dst) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ELSE 0 END AS da
  FROM lg
), tr AS (
  SELECT doc_id, pos, la, da,
         COALESCE(LAG(la) OVER wp, la) AS pla,
         COALESCE(LAG(da) OVER wp, da) AS pda
  FROM evt WINDOW wp AS (PARTITION BY doc_id ORDER BY pos)
), grp AS (
  SELECT doc_id, pos, la, da,
         SUM(CASE WHEN (la != pla OR da != pda)
                   AND ((pla = 0 AND pda = 0) OR (la = 0 AND da = 0)
                        OR (la != pla AND da != pda))
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM tr
), gstats AS (
  SELECT doc_id, pos, g,
         MAX(g) OVER (PARTITION BY doc_id) AS gmax,
         MAX(CASE WHEN la > 0 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id, g) AS has_l,
         MAX(CASE WHEN da > 0 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id, g) AS has_d,
         ROW_NUMBER() OVER (PARTITION BY doc_id, g ORDER BY pos) AS grn,
         COUNT(*) OVER (PARTITION BY doc_id, g) AS gcnt
  FROM grp
), cm AS (
  SELECT doc_id, pos,
         CASE WHEN g < gmax AND (has_d = 1 OR has_l = 1)
               AND grn > 1 AND grn <= gcnt - 1
              THEN CASE WHEN has_d = 1 AND has_l = 1 THEN 'tp'
                        WHEN has_d = 1 THEN 'fp' ELSE 'fn' END
              ELSE 'tn' END AS c
  FROM gstats
)
"""

    sql["point_metrics"] = cm_sql + """
, agg AS (
  SELECT SUM(CASE WHEN c = 'tp' THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN c = 'fp' THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN c = 'fn' THEN 1 ELSE 0 END) AS fn,
         SUM(CASE WHEN c = 'tn' THEN 1 ELSE 0 END) AS tn
  FROM cm
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS prc,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS rcl,
       ROUND(2.0 * (CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0)) * (CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0))
             / NULLIF(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) + CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 0), 6) AS f1
FROM agg
"""

    sql["event_metrics"] = cm_sql + """
, ne AS (
  SELECT doc_id, pos, c,
         CASE WHEN c != COALESCE(LAG(c) OVER (PARTITION BY doc_id ORDER BY pos), 'tn')
              THEN 1 ELSE 0 END AS nev
  FROM cm
), agg AS (
  SELECT SUM(CASE WHEN nev = 1 AND c = 'tp' THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN nev = 1 AND c = 'fp' THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN nev = 1 AND c = 'fn' THEN 1 ELSE 0 END) AS fn
  FROM ne
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS prc,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS rcl,
       ROUND(2.0 * (CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0)) * (CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0))
             / NULLIF(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) + CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 0), 6) AS f1,
       ROUND(5.0 * tp / NULLIF(5.0 * tp + 4.0 * fn + fp, 0), 6) AS f2
FROM agg
"""

    sql["calib_overlap"] = BASE_SQL + """
, fl AS (
  SELECT doc_id, pos, (value > 380) AS f,
         ROW_NUMBER() OVER wp AS rn, COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM base WINDOW wp AS (PARTITION BY doc_id ORDER BY pos)
), wd AS (
  SELECT doc_id, pos,
         (rn > 1 AND rn <= n - 1 AND MAX(CASE WHEN f THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1) AS fw
  FROM fl
)
SELECT CAST(CAST(doc_id AS BIGINT) % 5 AS BIGINT) AS site, pos,
       (SUM(CASE WHEN fw THEN 1 ELSE 0 END) = COUNT(*)) AS all_calib
FROM wd GROUP BY 1, 2
"""

    sql["const_threshold"] = BASE_SQL + f"""
, r AS (
  SELECT doc_id, pos, value - AVG(value) OVER (PARTITION BY doc_id) AS resid
  FROM base
), s AS (
  SELECT doc_id, resid,
         {Z_05} * STDDEV_SAMP(resid) OVER (PARTITION BY doc_id) AS hi
  FROM r
)
SELECT doc_id,
       ROUND(-MAX(hi), 6) AS low, ROUND(MAX(hi), 6) AS high,
       CAST(SUM(CASE WHEN resid < -hi OR resid > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
       CAST(SUM(CASE WHEN resid < -80.0 OR resid > 80.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_scalar
FROM s GROUP BY doc_id
"""

    sql["comp_roundtrip"] = BASE_SQL + f"""
, q AS (
  SELECT doc_id, pos,
         CAST(round_even(value / 500.0 * 65535, 0) AS BIGINT) AS tok,
         {T0_EPOCH} + pos * 60 AS tsec
  FROM base
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM((pos + 1) * tok) AS BIGINT) AS val_sum,
       CAST(SUM((pos + 1) * tsec) AS BIGINT) AS ts_sum
FROM q GROUP BY doc_id
"""

    sql["hot_tokens"] = r"""
WITH w0 AS (
  SELECT doc_id, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''))) AS w
  FROM documents
)
SELECT w FROM w0 GROUP BY w
HAVING COUNT(DISTINCT doc_id) > 0.2 * (SELECT COUNT(*) FROM documents)
"""

    sql["dup_components"] = r"""
WITH w0 AS (
  SELECT doc_id, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''))) AS wd
  FROM documents
), hot AS (
  SELECT wd FROM w0 GROUP BY wd
  HAVING COUNT(DISTINCT doc_id) > 0.5 * (SELECT COUNT(*) FROM documents)
), w AS (
  SELECT * FROM w0 WHERE wd NOT IN (SELECT wd FROM hot)
), sz AS (
  SELECT doc_id, COUNT(*) AS sz FROM w GROUP BY doc_id
), c AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS common
  FROM w a JOIN w b ON a.wd = b.wd AND a.doc_id < b.doc_id
  GROUP BY ia, ib
), p AS (
  SELECT ia AS id_a, ib AS id_b FROM c
  JOIN sz sa ON sa.doc_id = ia
  JOIN sz sb ON sb.doc_id = ib
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.8
), e AS (
  SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
), reach AS (
  SELECT a AS src, a AS dst FROM e
  UNION
  SELECT src, b FROM (
    WITH RECURSIVE r(src, dst) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a
    ) SELECT src, dst AS b FROM r
  )
)
SELECT CAST(src AS BIGINT) AS doc_id, CAST(MIN(dst) AS BIGINT) AS component,
       (src = MIN(dst)) AS keep
FROM reach GROUP BY src
"""

    # PQ/ADC: md5-derived sub-codebooks (8 subvectors × 16 centroids over
    # the normalized 64-dim embedding); code = argmin of |c|²−2 s·c per
    # subvector (ties to lower c); ADC candidate order per query uses the
    # same |c|²−2 q_s·c sums (the +|q_s|² term is constant per query);
    # top-30 by (adc, id) then exact-cosine rerank to 10
    sql["pq_topk"] = """
WITH cents AS (
  SELECT j, c, list_transform(range(0, 8), dd ->
    CAST(('0x' || substr(md5('pq|' || CAST(j AS VARCHAR) || '|' || CAST(c AS VARCHAR)
          || '|' || CAST(j * 8 + dd AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0
  ) AS cv
  FROM (SELECT unnest(range(0, 8)) AS j) js
  CROSS JOIN (SELECT unnest(range(0, 16)) AS c) cs
), emb AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)
           / sqrt(list_dot_product(embedding, embedding))) AS e
  FROM embeddings
), sub AS (
  SELECT vec_id, j, list_slice(e, j * 8 + 1, (j + 1) * 8) AS s
  FROM emb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js
), d2 AS (
  SELECT sub.vec_id, sub.j, cents.c,
         list_dot_product(cents.cv, cents.cv) - 2 * list_dot_product(sub.s, cents.cv) AS d
  FROM sub JOIN cents ON cents.j = sub.j
), codes AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
    FROM d2) WHERE rn = 1
), adc AS (
  SELECT q.vec_id AS qid, n.vec_id AS nid, SUM(q.d) AS dist
  FROM codes n JOIN d2 q ON q.j = n.j AND q.c = n.code
  WHERE q.vec_id < 5 AND n.vec_id != q.vec_id
  GROUP BY qid, nid
), refine AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rr
    FROM adc) WHERE rr <= 30
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT r.qid, r.nid,
         ROW_NUMBER() OVER (PARTITION BY r.qid
           ORDER BY list_cosine_similarity(ne.embedding, qe.embedding) DESC, r.nid) AS rank
  FROM refine r
  JOIN embeddings ne ON ne.vec_id = r.nid
  JOIN embeddings qe ON qe.vec_id = r.qid
) WHERE rank <= 10
"""

    sql["ivfpq_topk"] = """
WITH icents AS (
  SELECT c, list_transform(range(0, 64), d ->
    CAST(('0x' || substr(md5('ivf|' || CAST(c AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0
  ) AS cv
  FROM (SELECT unnest(range(0, 16)) AS c) cs
), pcents AS (
  SELECT j, c, list_transform(range(0, 8), dd ->
    CAST(('0x' || substr(md5('pq|' || CAST(j AS VARCHAR) || '|' || CAST(c AS VARCHAR)
          || '|' || CAST(j * 8 + dd AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0
  ) AS cv
  FROM (SELECT unnest(range(0, 8)) AS j) js
  CROSS JOIN (SELECT unnest(range(0, 16)) AS c) cs
), emb AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)
           / sqrt(list_dot_product(embedding, embedding))) AS e
  FROM embeddings
), idists AS (
  SELECT vec_id, c,
         list_dot_product(cv, cv) - 2 * list_dot_product(e, cv) AS d
  FROM emb CROSS JOIN icents
), asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, c AS cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM idists) WHERE rn = 1
), probes AS (
  SELECT vec_id AS qid, c AS cell FROM (
    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM idists WHERE vec_id < 5) WHERE rn <= 4
), sub AS (
  SELECT vec_id, j, list_slice(e, j * 8 + 1, (j + 1) * 8) AS s
  FROM emb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js
), d2 AS (
  SELECT sub.vec_id, sub.j, pcents.c,
         list_dot_product(pcents.cv, pcents.cv) - 2 * list_dot_product(sub.s, pcents.cv) AS d
  FROM sub JOIN pcents ON pcents.j = sub.j
), codes AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
    FROM d2) WHERE rn = 1
), cand AS (
  SELECT p.qid, a.vec_id AS nid
  FROM probes p JOIN asg a ON a.cell = p.cell
  WHERE a.vec_id != p.qid
), adc AS (
  SELECT cd.qid, cd.nid, SUM(q.d) AS dist
  FROM cand cd
  JOIN codes n ON n.vec_id = cd.nid
  JOIN d2 q ON q.vec_id = cd.qid AND q.j = n.j AND q.c = n.code
  GROUP BY cd.qid, cd.nid
), refine AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rr
    FROM adc) WHERE rr <= 30
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT r.qid, r.nid,
         ROW_NUMBER() OVER (PARTITION BY r.qid
           ORDER BY list_cosine_similarity(ne.embedding, qe.embedding) DESC, r.nid) AS rank
  FROM refine r
  JOIN embeddings ne ON ne.vec_id = r.nid
  JOIN embeddings qe ON qe.vec_id = r.qid
) WHERE rank <= 10
"""

    sql["retention_counts"] = BASE_SQL + """
, cells AS (
  SELECT doc_id,
         CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
         COUNT(value) AS cnt,
         ROUND(SUM(value), 6) AS sum_val,
         ROUND(AVG(value), 6) AS avg_val,
         ROUND(MIN(value), 6) AS min_val,
         ROUND(MAX(value), 6) AS max_val
  FROM base GROUP BY doc_id, bucket_s
), days AS (
  SELECT DISTINCT CAST(FLOOR(bucket_s / 86400.0) AS BIGINT) AS day FROM cells
), cut AS (
  SELECT day AS cutoff FROM (
    SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn, COUNT(*) OVER () AS n
    FROM days
  ) WHERE rn = CAST(FLOOR(n / 2) AS BIGINT) + 1
)
SELECT doc_id, bucket_s, cnt, sum_val, avg_val, min_val, max_val
FROM cells, cut
WHERE CAST(FLOOR(bucket_s / 86400.0) AS BIGINT) >= cutoff
"""

    sql["streaming_detect"] = BASE_SQL + """
, q AS (
  SELECT doc_id, pos, FLOOR(value / 5.0) * 5.0 AS v FROM base
), fl AS (
  SELECT doc_id, pos, v,
         (v > 60.0 OR v < 5.0) AS rngf,
         CASE WHEN v = LAG(v) OVER (PARTITION BY doc_id ORDER BY pos)
              THEN 1 ELSE 0 END AS rep
  FROM q
), gid AS (
  SELECT doc_id, pos, v, rngf, rep,
         SUM(1 - rep) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM fl
), cnt AS (
  SELECT doc_id, pos, v, rngf, rep,
         SUM(rep) OVER (PARTITION BY doc_id, g) AS reps
  FROM gid
)
SELECT doc_id, pos, ROUND(v, 6) AS value,
       (rngf OR (rep = 1 AND reps >= 3)) AS anomaly
FROM cnt
"""

    # streaming continuous-aggregate contract: the incrementally-merged
    # store equals the one-shot rollup of the same (quantize-roundtripped)
    # points. round_even ↔ Spark rint; T0 = 2022-01-01 UTC, cadence 900 s.
    sql["streaming_rollup"] = BASE_SQL + """
, q AS (
  SELECT doc_id, pos,
         CAST(LEAST(65535, GREATEST(0,
             round_even(((value / 20.0 - 4.0) - (-5.0)) / 35.0 * 65535, 0)
         )) AS BIGINT) AS t
  FROM base
), v AS (
  SELECT doc_id,
         -5.0 + t / 65535.0 * 35.0 AS val,
         1640995200 + pos * 900 AS ep
  FROM q
), b AS (
  SELECT doc_id, CAST(ep // 3600 * 3600 AS BIGINT) AS bucket, val FROM v
)
SELECT doc_id, bucket,
       CAST(COUNT(val) AS BIGINT) AS cnt,
       ROUND(SUM(val), 6) AS sum_val,
       ROUND(AVG(val), 6) AS avg_val,
       ROUND(MIN(val), 6) AS min_val,
       ROUND(MAX(val), 6) AS max_val
FROM b GROUP BY doc_id, bucket
"""

    # full keep-list: the same transitive closure, LEFT-joined from the
    # corpus so singleton docs come back as their own keep=true components
    # incremental-dedup one-shot replay: same md5 minhash signatures and
    # 8-band buckets as the minhash_candidates oracle; a doc is a dup iff
    # a smaller-id bucket-mate has signature-jaccard >= 0.5. The engine
    # side ran this in TWO batches through a persisted store — equality
    # here IS the incremental ≡ one-shot proof.
    inc_oneshot = rf"""
SELECT * FROM (
WITH d AS (SELECT doc_id, lower(text) AS c FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(1, length(c) - 4) + 1),
                        i -> substr(c, CAST(i AS INT), 5)) AS gs
  FROM d
), hs AS (
  SELECT doc_id,
         list_transform(gs,
           g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {MERSENNE31}) AS hv
  FROM sh
), sigt AS (
  SELECT doc_id, [
      {perm_entries}
  ] AS sg
  FROM hs
), banded AS (
  SELECT doc_id, b,
         CAST(('0x' || substr(md5(array_to_string(
           list_transform(array_slice(sg, CAST(b * 4 + 1 AS INT), CAST(b * 4 + 4 AS INT)),
                          v -> CAST(v AS VARCHAR)), ',')), 1, 15)) AS BIGINT) AS bucket
  FROM sigt CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands
), cpair AS (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a
  JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
), verf AS (
  SELECT p.id_b, MIN(p.id_a) AS dup_of
  FROM cpair p
  JOIN sigt sa ON sa.doc_id = p.id_a
  JOIN sigt sb ON sb.doc_id = p.id_b
  WHERE len(list_filter(range(1, 33),
            i -> sa.sg[CAST(i AS INT)] = sb.sg[CAST(i AS INT)])) / 32.0 >= 0.5
  GROUP BY p.id_b
)
SELECT 'minhash_inc' AS method, CAST(dd.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(v.dup_of, dd.doc_id) AS BIGINT) AS component,
       v.dup_of IS NULL AS keep
FROM documents dd LEFT JOIN verf v ON v.id_b = dd.doc_id
)
"""
    sql["dup_keep_list"] = (
        "SELECT * FROM (\n"
        + sql["dup_components"].rsplit("SELECT CAST(src", 1)[0]
        + """, comp AS (
  SELECT src AS doc_id, MIN(dst) AS component, (src = MIN(dst)) AS keep
  FROM reach GROUP BY src
)
SELECT 'cc' AS method, CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
       COALESCE(c.keep, TRUE) AS keep
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
UNION ALL
"""
        + inc_oneshot
    )

    sql["multimodal_features"] = """
SELECT CAST(d.doc_id AS BIGINT) AS id,
       CAST(fy.range * 8 + fx.range AS BIGINT) AS fi,
       CAST(CASE WHEN CAST(d.doc_id AS BIGINT) % 7 IN (5, 6)
                 THEN (CAST(d.doc_id AS BIGINT) * 31) % 256
                 ELSE (CAST(d.doc_id AS BIGINT) * 31 + (2 * fy.range) * 16 + (2 * fx.range) * 3) % 256
            END AS BIGINT) AS gval
FROM documents d, range(8) fy, range(8) fx
"""

    # per-day edge candidates: day picked by max|edge| > threshold, the
    # candidate row by argmax of the RAW edge (reference quirk); hourly
    # cadence from Monday-midnight epoch -> hour = pos%24, weekday =
    # (pos/24)%7 with 0=Monday
    sql["edge_candidates"] = BASE_SQL + """
, st AS (
  SELECT doc_id, pos, value,
         ROW_NUMBER() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY doc_id) AS n,
         SUM(value) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS s_before,
         SUM(value) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s_after
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), ef AS (
  SELECT doc_id, pos,
         CASE WHEN rn > 4 AND rn <= n - 4 THEN (s_before - s_after) / 4 ELSE 0.0 END AS edge
  FROM st
), nz AS (
  SELECT * FROM ef WHERE edge != 0.0
), byday AS (
  SELECT doc_id, pos, edge,
         CAST(FLOOR(pos / 24) AS INT) AS day,
         MAX(ABS(edge)) OVER (PARTITION BY doc_id, CAST(FLOOR(pos / 24) AS INT)) AS mx,
         ROW_NUMBER() OVER (PARTITION BY doc_id, CAST(FLOOR(pos / 24) AS INT)
                            ORDER BY edge DESC, pos) AS rk
  FROM nz
)
SELECT doc_id, CAST(pos AS BIGINT) AS cand_pos
FROM byday
WHERE rk = 1 AND mx > 10.0
  AND (pos % 24) BETWEEN 7 AND 17
  AND (day % 7) BETWEEN 0 AND 4
"""

    sql["doc_profile"] = r"""
WITH lp AS (
WITH w AS (
  SELECT doc_id, list_distinct(
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')) AS ws
  FROM documents
), s AS (
  SELECT doc_id,
         unnest(['de','en','es','fr','zh']) AS lang,
         unnest([
           len(list_intersect(ws, ['der','die','und','das','von','mit','den','ist'])),
           len(list_intersect(ws, ['the','and','of','to','in','is','that','for'])),
           len(list_intersect(ws, ['el','la','de','que','y','en','los','por'])),
           len(list_intersect(ws, ['le','la','de','et','les','des','un','pour'])),
           len(list_intersect(ws, ['的','是','了','在','和','有','我','他']))
         ]) AS hits
  FROM w
)
SELECT doc_id AS id, lang AS lang_pred FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
  FROM s
) WHERE rn = 1
), fpr AS (
WITH d AS (
  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS c FROM documents
)
SELECT doc_id AS id,
       list_min(list_transform(
         range(1, greatest(1, length(c) - 7) + 1),
         i -> CAST(('0x' || substr(md5(substr(c, CAST(i AS INT), 8)), 1, 15)) AS BIGINT)
       )) AS fingerprint
FROM d
)
SELECT lp.id, lp.lang_pred, fpr.fingerprint,
       COALESCE(sh.n_shared, 0) AS n_shared_13grams,
       COALESCE(sh.n_shared, 0) > 0 AS contaminated,
       ds.n_dup_spans, ds.dup_words, ds.dup_word_frac,
       pii.n_email, pii.n_ipv4, pii.n_phone, pii.n_ssn, pii.n_pii,
       pii.redacted_h
FROM lp JOIN fpr ON fpr.id = lp.id
JOIN (
  WITH planted AS (
    SELECT CAST(doc_id AS BIGINT) AS id,
      text
      || CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 up'
              ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ' call +1 555 010 4242' ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' id 123-45-6789' ELSE '' END AS t
    FROM documents
  )
  SELECT id,
    CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
    CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
    CAST(len(regexp_extract_all(t, '\+\d{1,3}[ \-.]\d{3}[ \-.]\d{3}[ \-.]\d{4}\b')) AS BIGINT) AS n_phone,
    CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
    CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
       + len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
       + len(regexp_extract_all(t, '\+\d{1,3}[ \-.]\d{3}[ \-.]\d{3}[ \-.]\d{4}\b'))
       + len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_pii,
    CAST(('0x' || substr(md5(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(t,
              '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<PII_EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<PII_IPV4>', 'g'),
          '\+\d{1,3}[ \-.]\d{3}[ \-.]\d{3}[ \-.]\d{4}\b', '<PII_PHONE>', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '<PII_SSN>', 'g')
    ), 1, 15)) AS BIGINT) AS redacted_h
  FROM planted
) pii ON pii.id = lp.id
JOIN (
  WITH wq AS (
    SELECT CAST(doc_id AS BIGINT) AS id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS w
    FROM documents
  ), grams AS (
    SELECT id, unnest(range(1, len(w) - 10)) AS pos,
           unnest(list_transform(range(1, len(w) - 10),
             i -> CAST(('0x' || substr(md5(array_to_string(w[i:i+11], ' ')), 1, 15)) AS BIGINT))) AS gh
    FROM wq WHERE len(w) >= 12
  ), dupg AS (
    SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2
  ), mk AS (
    SELECT g.id, g.pos, g.pos + 11 AS e FROM grams g JOIN dupg USING (gh)
  ), isl AS (
    SELECT id, pos, e,
           CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS st
    FROM mk
  ), isl2 AS (
    SELECT id, pos, e, SUM(st) OVER (PARTITION BY id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
    FROM isl
  ), sp AS (
    SELECT id, k, MIN(pos) AS s, MAX(e) AS e FROM isl2 GROUP BY id, k
  ), pdq AS (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_words
    FROM sp GROUP BY id
  )
  SELECT wq.id,
         COALESCE(pdq.n_dup_spans, 0) AS n_dup_spans,
         COALESCE(pdq.dup_words, 0) AS dup_words,
         CASE WHEN len(wq.w) > 0
              THEN ROUND(COALESCE(pdq.dup_words, 0) * 1.0 / len(wq.w), 6)
         END AS dup_word_frac
  FROM wq LEFT JOIN pdq ON pdq.id = wq.id
) ds ON ds.id = lp.id
LEFT JOIN (
  WITH wq AS (
    SELECT CAST(doc_id AS BIGINT) AS id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS w
    FROM documents
  ), grams AS (
    SELECT id, unnest(list_transform(range(1, len(w) - 11),
           i -> CAST(('0x' || substr(md5(array_to_string(w[i:i+12], ' ')), 1, 15)) AS BIGINT))) AS gh
    FROM wq WHERE len(w) >= 13
  ), bench AS (
    SELECT DISTINCT gh FROM grams WHERE id % 97 = 0
  )
  SELECT g.id, COUNT(DISTINCT g.gh) AS n_shared
  FROM grams g JOIN bench b ON b.gh = g.gh
  GROUP BY g.id
) sh ON sh.id = lp.id
"""

    sql["lsh_topk"] = """
WITH planes AS (
  SELECT t, p, list_transform(range(0, 64), d ->
    CAST(('0x' || substr(md5(CAST(t AS VARCHAR) || '|' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
      / 576460752303423488.0 - 1.0
  ) AS pv
  FROM (SELECT unnest(range(0, 8)) AS t) ts CROSS JOIN (SELECT unnest(range(0, 4)) AS p) ps
), emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), bucketed AS (
  SELECT vec_id, t,
         SUM(CASE WHEN list_dot_product(e, pv) >= 0 THEN (1 << CAST(p AS INT)) ELSE 0 END) AS bucket
  FROM emb CROSS JOIN planes
  GROUP BY vec_id, t
), qb AS (
  SELECT vec_id AS query_id, t, bucket FROM bucketed WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
  FROM qb JOIN bucketed b ON b.t = qb.t AND b.bucket = qb.bucket AND b.vec_id != qb.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(eq.e, en.e) AS cos
  FROM cand c
  JOIN emb eq ON eq.vec_id = c.query_id
  JOIN emb en ON en.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""

    return sql
