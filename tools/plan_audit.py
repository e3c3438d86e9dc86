"""Physical-plan audit: assert the plans are the ones we designed for.

For each audited operator this captures `.explain("formatted")` and checks
structural properties — small sides broadcast (no accidental
SortMergeJoin/CartesianProduct), filters pushed to the parquet scan,
columns pruned to what the query needs, the expected number of exchanges.
Failures exit non-zero; PLANS.md records the checks plus plan excerpts so
regressions in plan shape are reviewable, not just runtime regressions.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def fmt(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main():
    import __spark_entry__ as entry
    from pyhydroqc_spark.session import get_spark

    spark = get_spark("plan-audit", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    report: list[str] = [
        "# PLANS — physical-plan audit",
        "",
        f"Captured via `.explain('formatted')` on sf_dir={SF_DIR}",
        "(`python tools/plan_audit.py`). Each check is asserted in CI-style:",
        "a plan-shape regression fails the script.",
        "",
    ]
    failures: list[str] = []

    def audit(name, df, must=(), must_not=(), note=""):
        plan = fmt(df)
        problems = []
        for pat in must:
            if not re.search(pat, plan):
                problems.append(f"MISSING {pat!r}")
        for pat in must_not:
            if re.search(pat, plan):
                problems.append(f"FORBIDDEN {pat!r}")
        status = "OK" if not problems else "FAIL: " + "; ".join(problems)
        if problems:
            failures.append(f"{name}: {status}")
        print(f"{status:4.60}  {name}", file=sys.stderr)
        report.append(f"## {name} — {status}")
        if note:
            report.append(f"\n{note}\n")
        report.append("checks: " + "; ".join(
            [f"must `{m}`" for m in must] + [f"must-not `{m}`" for m in must_not]
        ))
        # keep the interesting head of the plan (operator tree, not details)
        tree = plan.split("\n\n")[0]
        report.append("\n```\n" + tree[:2000] + "\n```\n")

    # 1. broadcast dimension join: params lookup must never SMJ the facts
    audit(
        "params_join (J5)",
        qs["params_join"](spark, SF_DIR),
        must=[r"BroadcastHashJoin"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
        note="5-row params dim broadcast against the fact side.",
    )

    # 2. rollup: partial (map-side) aggregation of the multi-tier cells
    # that rollup_tiers checkpoints (its post-checkpoint plan only reads
    # them)
    audit(
        "rollup_tiers cells (A+)",
        entry._rollup_cells(spark, SF_DIR),
        must=[r"partial_count", r"HashAggregate"],
        note="One Catalyst partial+final hash aggregation over every tier: "
        "each point is exploded once per tier (Generate), and the window's "
        "user_id partitioning already clusters the (user_id, tier, bucket) "
        "groups.",
    )

    # 3. column pruning: lang_stats must scan only (lang, n_chars)
    plan3 = fmt(qs["lang_stats"](spark, SF_DIR))
    pruned = "ReadSchema" in plan3 and "text" not in re.search(
        r"ReadSchema: ([^\n]*)", plan3
    ).group(1)
    status3 = "OK" if pruned else "FAIL: text column not pruned"
    if not pruned:
        failures.append("lang_stats pruning")
    print(f"{status3:4.60}  lang_stats column pruning", file=sys.stderr)
    report.append(f"## lang_stats column pruning — {status3}")
    report.append(
        "\nReadSchema: " + re.search(r"ReadSchema: ([^\n]*)", plan3).group(1) + "\n"
    )

    # 4. filter pushdown: ann query side (vec_id < 5) reaches the scan
    plan4 = fmt(qs["ann_topk"](spark, SF_DIR))
    pushed = re.search(r"PushedFilters: \[[^\]]*LessThan\(vec_id,5\)", plan4)
    status4 = "OK" if pushed else "FAIL: vec_id<5 not pushed to scan"
    if not pushed:
        failures.append("ann_topk pushdown")
    print(f"{status4:4.60}  ann_topk filter pushdown", file=sys.stderr)
    report.append(f"## ann_topk filter pushdown — {status4}")
    report.append(
        "\nThe exact path is a deliberate broadcast nested-loop (tiny query "
        "side × all vectors); the scale paths are below.\n"
    )

    # 5. LSH/IVF: bucket/cell equi-joins, never a cartesian product
    audit(
        "lsh_topk (scale ANN)",
        qs["lsh_topk"](spark, SF_DIR),
        must=[r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note="candidates come from the (table, bucket) equi-join.",
    )
    audit(
        "ivf_topk (scale ANN)",
        qs["ivf_topk"](spark, SF_DIR),
        must=[r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note="candidates come from the probed-cell equi-join.",
    )
    audit(
        "embed_dup_pairs (near-dup, lsh + ivfpq)",
        qs["embed_dup_pairs"](spark, SF_DIR),
        must=[r"FlatMapGroupsInPandas"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note="method='lsh': pairs from the (table, bucket) self-equi-join "
        "over full vectors. method='ivfpq' (r6): corpus-vs-corpus pairs "
        "entirely through the PQ codes — per-cell grouped SDC kernel "
        "(the FlatMapGroupsInPandas), id-keyed rerank joins, and NO "
        "driver-side collect of either side.",
    )

    # 6. dedup: one shuffle on the digest, no join at all
    audit(
        "dedup_groups",
        qs["dedup_groups"](spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[r"Join"],
    )

    # 7. the fused headline path: token arrays -> kernel -> cells
    from pyhydroqc_spark.datagen import gen_token_table
    from pyhydroqc_spark.ingest import repartition_series
    from pyhydroqc_spark.operators.fused import fused_tokens_to_cells

    tok = spark.createDataFrame(
        gen_token_table(n_series=4, n_tok=800, seed=1),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    audit(
        "fused_tokens_to_cells (headline)",
        fused_tokens_to_cells(repartition_series(tok, 8)),
        must=[r"MapInPandas"],
        must_not=[r"SortMergeJoin", r"Window"],
        note="ONE exchange (the doc_id repartition of 4 B/pt token arrays), "
        "then the kernel emits finished first-tier cells — no window "
        "operators, no joins, no post-aggregation.",
    )

    # 8. the zero-shuffle form: with balanced series-complete input files
    # the kernel needs NO exchange at all (rows are whole series; the map
    # is row-independent) — the bench default since round 3
    audit(
        "fused_tokens_to_cells (zero-shuffle)",
        fused_tokens_to_cells(tok),
        must=[r"MapInPandas"],
        must_not=[r"Exchange", r"SortMergeJoin", r"Window"],
        note="scan → kernel → cells with no wide edge of any kind: the "
        "100 TB token table never crosses a shuffle boundary.",
    )

    # 9. LSH signature folds are codegen aggregations, not interpreted
    # array-HOF folds, and candidate generation never self-joins the corpus
    audit(
        "simhash_pairs (codegen fold + banding)",
        qs["simhash_pairs"](spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note="signature = conditional-SUM hash aggregation (whole-stage "
        "codegen); pairs from (quarter, value) bucket aggregation with "
        "adaptive multi-index splitting of hot buckets.",
    )
    audit(
        "minhash_candidates (codegen fold + banding)",
        qs["minhash_candidates"](spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note="signature = num_perm MIN aggregates in one hash aggregation; "
        "candidates from the (band, bucket) aggregation.",
    )

    # 9b. PQ/ADC: candidates from per-partition partial top-k, the tiny
    # query map broadcast, never a cartesian over the codes table
    audit(
        "pq_topk (PQ/ADC ANN)",
        qs["pq_topk"](spark, SF_DIR),
        must=[r"MapInPandas", r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note="ADC scoring emits only per-partition top-refine rows; the "
        "query map and query vectors are broadcast; rerank joins on ids.",
    )

    # 9c. IVFADC: the composed scale path — the cell filter must PRUNE the
    # code scan (no full-corpus ADC), probes broadcast, no cartesian
    plan9c = fmt(qs["ivfpq_topk"](spark, SF_DIR))
    pruned9c = (
        re.search(r"cell#\d+ IN \(", plan9c)
        or re.search(r"cell.*INSET", plan9c)
    )
    bad9c = re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan9c)
    status9c = (
        "OK"
        if pruned9c and not bad9c and "BroadcastHashJoin" in plan9c
        else "FAIL: missing cell-membership filter / cartesian present"
    )
    if status9c != "OK":
        failures.append("ivfpq_topk pruning")
    print(f"{status9c:4.60}  ivfpq_topk (IVFADC)", file=sys.stderr)
    report.append(f"## ivfpq_topk (IVFADC) — {status9c}")
    report.append(
        "\nProbed-cell membership filters the code table BEFORE scoring "
        "(partition pruning when the index is written partitioned by cell); "
        "probe lists ride the ADC kernel's closure, which emits per-partition "
        "top-refine only; the query map is broadcast; exact rerank joins ids. With 16 cells and nprobe=4 a query "
        "scores codes from 4 cells; pq_topk runs the same operator with one "
        "cell, so it scores every code.\n"
    )

    # 9d. ngram_perplexity: the corpus is scanned exactly TWICE — once to
    # build the bigram-count model, once to score. The model is
    # local-checkpointed when the operator is called, so its corpus pass
    # ran in that checkpoint job and the plan reads the model back as
    # ExistingRDD scans. c1 and V derive from the model, so the only live
    # corpus explode left is the scoring pass; the r5 shape (5 live corpus
    # passes) must not come back.
    from pyhydroqc_spark.textops import quality as _q

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan9d = fmt(_q.ngram_perplexity(docs)).split("\n\n")[0]
    n_gen = len(re.findall(r"\bGenerate\b", plan9d))
    n_rdd = len(re.findall(r"Scan ExistingRDD", plan9d))
    status9d = (
        "OK"
        if n_gen <= 1 and n_rdd >= 1 and "CartesianProduct" not in plan9d
        else f"FAIL: {n_gen} live Generate passes (want <=1, model checkpointed)"
    )
    if status9d != "OK":
        failures.append("ngram_perplexity passes")
    print(f"{status9d:4.60}  ngram_perplexity (2-pass)", file=sys.stderr)
    report.append(f"## ngram_perplexity two-pass shape — {status9d}")
    report.append(
        f"\n{n_gen} live corpus explode(s) (Generate) and {n_rdd} reads "
        "of the checkpointed bigram model (Scan ExistingRDD): the corpus "
        "is scanned once, in the checkpoint job, to count bigrams and once "
        "to score; context counts and V derive from the checkpointed "
        "bigram table, which is orders of magnitude smaller than the "
        "corpus.\n"
    )

    # 10. arima_residuals_sql: no persist of the fact table (recompute)
    audit(
        "ar1_residuals (default: no persist)",
        qs["ar1_residuals"](spark, SF_DIR),
        must=[r"BroadcastHashJoin"],
        must_not=[r"InMemoryRelation", r"InMemoryTableScan"],
        note="the lagged fact plan is consumed twice (moment sums + join) "
        "but is recomputed, not persisted — at cluster scale caching the "
        "whole fact table is the wrong default.",
    )

    # 11. dup_spans (exact-substring dedup): ONE corpus pass — the
    # corpus-wide gram count is a window count over the gram-hash
    # partition (not a groupBy+join, which re-evaluates the explode for
    # each side). One Generate, two shuffle Exchanges (gh window, id
    # span-merge); the span-merge window and BOTH island groupBys reuse
    # the id exchange.
    from pyhydroqc_spark.textops import dedup as _dedup

    plan11 = fmt(
        _dedup.dup_spans(
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")), n=12
        )
    )
    tree11 = plan11.split("\n\n")[0]
    n_exch = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", tree11))
    n_gen11 = len(re.findall(r"Generate \(\d+\)", tree11))
    n_sort11 = len(re.findall(r"Sort \(\d+\)", tree11))
    status11 = (
        "OK"
        if n_exch <= 2 and n_gen11 <= 1 and n_sort11 <= 2
        and "CartesianProduct" not in plan11
        else f"FAIL: {n_exch} Exchanges / {n_gen11} Generates / {n_sort11} Sorts"
    )
    if status11 != "OK":
        failures.append(f"dup_spans shape: {status11}")
    print(f"{status11:4.60}  dup_spans (substring dedup)", file=sys.stderr)
    report.append(f"## dup_spans exact-substring dedup shape — {status11}")
    report.append(
        f"\n{n_exch} shuffle Exchange(s), {n_gen11} Generate(s), "
        f"{n_sort11} Sort(s): the full explode+gram-hash subtree runs "
        "once (window count over the gram-hash partition; rewrite "
        "measured 10.9s -> 3.7s at 200k docs/32 cores vs the "
        "groupBy+join shape that re-evaluated the explode per side); "
        "the span-merge window and BOTH island groupBys reuse the one "
        "id-hash exchange.\n"
    )
    report.append("\n```\n" + tree11[:2000] + "\n```\n")

    # 12. PII scrub: a pure projection — the regex detect+redact must
    # ride the parquet scan inside whole-stage codegen with NO exchange
    # (this is what makes the scrub free-of-structure at 100 TB: it adds
    # CPU to the first pass, never a shuffle).
    from pyhydroqc_spark.textops import pii as _pii

    audit(
        "pii.scrub (r6: detect+redact on the scan)",
        _pii.scrub(
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        ),
        must=[r"Project \[codegen id"],
        must_not=[r"\(\d+\) Exchange", r"BatchEvalPython", r"ArrowEvalPython"],
        note="regex families evaluate JVM-side in the scan's codegen "
        "stage (the plan shows the redaction computed once in the first "
        "Project, counts derived from it in the second); zero exchanges, "
        "zero Python.",
    )

    # 13. hash_sample: a filter, nothing else — no exchange, no Python.
    from pyhydroqc_spark.textops import sample as _sample

    audit(
        "hash_sample (r6: deterministic Bernoulli)",
        _sample.hash_sample(
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")), 0.2
        ),
        must=[r"Filter"],
        must_not=[r"\(\d+\) Exchange", r"BatchEvalPython", r"ArrowEvalPython"],
        note="the md5-u draw is a row-local filter: sampling a 100 TB "
        "corpus is exactly one scan.",
    )

    # 14. stratified_sample prefilter: group sizes broadcast back onto the
    # corpus (BroadcastHashJoin), the rank's Sort runs over the candidate
    # subset only — and never a cartesian.
    plan14 = fmt(
        _sample.stratified_sample(
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")),
            40,
            group_col="lang",
        )
    )
    ok14 = (
        "CartesianProduct" not in plan14
        # r7: the candidate set is localCheckpoint-materialized (a
        # LogicalRDD scan) instead of persisted — same ~safety·n rows per
        # group, no cache-entry leak; the broadcast size-join happens
        # inside the checkpointed subtree, so the visible plan is the
        # rank over the materialized candidates only
        and "Scan ExistingRDD" in plan14
        and "Window" in plan14
    )
    status14 = "OK" if ok14 else "FAIL: prefilter shape"
    if not ok14:
        failures.append(f"stratified_sample: {status14}")
    print(f"{status14:4.60}  stratified_sample prefilter", file=sys.stderr)
    report.append(f"## stratified_sample prefilter shape — {status14}")
    report.append(
        "\nGroup sizes broadcast onto the corpus inside the checkpointed "
        "candidate subtree; the rank Sort reads the materialized candidate "
        "set (Scan ExistingRDD), ~safety·n rows per group — the "
        "full-corpus shuffle-sort the naive window would do is gone "
        "(measured 26.7× at 100M rows × 4 groups, TEXTOPS.md).\n"
    )

    # 14b. gapfill: the dense grid comes from ONE min/max row per series
    # (Generate after a tiny aggregate), fills are running-frame windows —
    # and never a cartesian or a following-unbounded frame.
    from pyhydroqc_spark.operators import rollup as _rollup

    ev14 = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).selectExpr(
        "CAST(user_id AS STRING) AS doc_id", "ts", "value"
    )
    audit(
        "rollup.gapfill (dense grid + fills)",
        _rollup.gapfill(
            _rollup.rollup_points(ev14, 86400, value_col="value").drop("tier"),
            86400,
        ),
        must=[r"Generate", r"Window"],
        must_not=[r"CartesianProduct", r"unboundedfollowing"],
        note="grid = sequence+explode of the per-series (min,max) row; "
        "both fill directions are running frames (asc+desc), never the "
        "O(n²) currentRow..unboundedFollowing frame.",
    )

    # 15. as-of join: the union-window shape — NEVER a range join
    # (BroadcastNestedLoop / CartesianProduct), just union + one
    # window sort per key.
    from pyhydroqc_spark.operators import timejoin as _tj

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).selectExpr(
        "CAST(user_id AS STRING) AS doc_id", "ts", "value"
    )
    marks15 = ev.where("value > 24").selectExpr("doc_id", "ts", "value AS mark")
    audit(
        "asof_join (union-window, r6)",
        _tj.asof_join(ev, marks15, on="ts", by="doc_id", value_cols=["mark"]),
        must=[r"Window", r"Union"],
        must_not=[r"BroadcastNestedLoopJoin", r"CartesianProduct", r"SortMergeJoin"],
        note="an as-of join spelled as a range join explodes O(|L|·|R|) "
        "per key; the union-window shape costs one exchange + one sort, "
        "the same as any windowed aggregate.",
    )

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(report) + "\n")
    print(f"\n{len(failures)} plan failures -> PLANS.md written", file=sys.stderr)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
