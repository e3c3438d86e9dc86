"""Text analysis for training-data curation — language ID, quality scoring,
token counting, document fingerprinting. All pure column expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny deterministic marker lexicons (public common-word lists)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "pour"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ist"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他"],
}


def _words(text_col: str):
    return F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")


def _stats_cols(text_col: str) -> list:
    w = _words(text_col)
    return [
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct_words"),
        F.length(text_col).cast("long").alias("n_chars"),
        (
            F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.size(w)
        ).alias("avg_word_len"),
    ]


def _quality_col(text_col: str):
    w = _words(text_col)
    n_chars = F.length(text_col)
    alnum = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", ""))
    diversity = F.size(F.array_distinct(w)) / F.greatest(F.size(w), F.lit(1))
    len_ok = F.when((n_chars >= 64) & (n_chars <= 100000), 1.0).otherwise(
        F.least(n_chars / 64.0, F.lit(1.0))
    )
    return ((len_ok + diversity + alnum / F.greatest(n_chars, F.lit(1))) / 3.0).alias(
        "quality"
    )


def _repetition_cols(text_col: str) -> list:
    # duplicate-line fraction (Gopher/Dolma): share of non-empty lines
    # that repeat an earlier line; NULL when the doc has no lines at all
    lines = F.array_remove(F.split(F.col(text_col), "\n"), "")
    return [
        F.when(
            F.size(lines) > 0,
            1.0 - F.size(F.array_distinct(lines)) / F.size(lines),
        ).alias("dup_line_frac")
    ]


def _token_cols(text_col: str) -> list:
    w = _words(text_col)
    pieces = F.array_remove(F.split(F.col(text_col), r"[\s\p{Punct}]+"), "")
    subword = F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda a, x: a + F.ceil(F.length(x) / 4.0).cast("long"),
    )
    return [F.size(w).cast("long").alias("ws_tokens"), subword.alias("bpe_est_tokens")]


def text_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Every per-doc text-analysis column (stats + quality + token counts)
    in ONE projection over ONE scan — at corpus scale the separate ops
    joined on id would re-scan the text column once per surface; this is
    the fused form pipelines should use."""
    return df.select(
        F.col(id_col).alias("id"),
        *_stats_cols(text_col),
        _quality_col(text_col),
        *_token_cols(text_col),
        *_repetition_cols(text_col),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID: the language whose marker set intersects
    the document's word set most (ties → lexicographic)."""
    w = F.array_distinct(_words(text_col))
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(w, F.array(*[F.lit(m) for m in marks]))
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, marks in sorted(LANG_MARKERS.items())
        ]
    )
    # struct compare is fieldwise: max by hits, ties by ordr = −index so the
    # lexicographically first language wins
    ranked = F.transform(
        F.sequence(F.lit(0), F.lit(len(LANG_MARKERS) - 1)),
        lambda i: F.struct(
            F.element_at(scores, i + 1)["hits"].alias("hits"),
            (-i).alias("ordr"),
            F.element_at(scores, i + 1)["lang"].alias("lang"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), F.array_max(ranked)["lang"].alias("lang_pred")
    )


def fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Winnowing-style fingerprint: min hash over character k-gram shingles
    (order-insensitive, whitespace-normalized). The hash is the portable
    60-bit ``md5_60`` so plain-SQL engines can replay it."""
    from .dedup import md5_60

    c = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    n = F.length(c)
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n - (k - 1))),
        lambda i: c.substr(i, F.lit(k)),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.array_min(F.transform(sh, md5_60)).alias("fingerprint"),
    )


def ngram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, log2_ppl): per-doc bigram-LM perplexity under a model trained
    on the CORPUS ITSELF — the classic statistical quality signal for
    pre-training curation (docs whose word transitions the corpus has
    never seen score high; boilerplate scores low). Add-one smoothing:

        P(w_i | w_{i-1}) = (c2(w_{i-1}, w_i) + 1) / (c1(w_{i-1}) + V)
        log2_ppl(doc)    = −(1/n) · Σ log2 P over the doc's n bigrams

    Physical shape, all JVM-side: the corpus (the posexplode of every
    document into (doc, prev, cur) bigrams) is scanned exactly TWICE —
    once to build the bigram-count table ``c2``, once to score documents
    against the finished model. Everything else derives from ``c2``
    alone: the context counts ``c1`` are a groupBy-sum over c2 (a table
    of distinct bigrams, orders of magnitude smaller than the corpus),
    and the vocabulary size V is a 1-row broadcast aggregate over c2's
    keys — so at 100 TB there are two full-corpus passes, not five.
    Catalyst expands every *reference* to c2 back to its full subtree
    (plans are trees, not DAGs), so the bigram table — the model, NOT
    the corpus — is local-checkpointed eagerly: its one corpus pass runs
    at call time and c1/V/model read the checkpointed rows. A checkpoint,
    not a persist: a persisted frame stays in Spark's CacheManager after
    the call and the next call's plan would read it. The "model"
    never leaves the cluster — at 10^9 docs it is a distributed table,
    not a driver artifact. Docs with <2 words have no bigrams and come
    back with NULL ``log2_ppl`` (reinstated by a left join on the input
    ids)."""
    w = _words(text_col)
    pairs = (
        df.select(F.col(id_col).alias("id"), w.alias("__w"))
        .select(
            "id",
            F.posexplode(F.slice("__w", 2, F.greatest(F.size("__w") - 1, F.lit(0))))
            .alias("__i", "__cur"),
            F.col("__w").alias("__all"),
        )
        .select(
            "id",
            F.element_at("__all", F.col("__i") + 1).alias("prev"),
            F.col("__cur").alias("cur"),
        )
    )
    c2 = (
        pairs.groupBy("prev", "cur")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=True)
    )
    # context counts from c2, NOT from a second pairs scan: every
    # occurrence of context w is inside exactly one (w, ·) bigram count
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    # V stays IN the plan (broadcast 1-row aggregate over c2's keys — the
    # distinct words of prev ∪ cur are exactly the words seen in any
    # bigram slot) — no driver-blocking count job beyond c2's checkpoint
    vocab_n = (
        c2.select(F.col("prev").alias("wd"))
        .union(c2.select(F.col("cur").alias("wd")))
        .agg(F.count_distinct("wd").cast("double").alias("__V"))
    )
    model = (
        c2.join(c1, "prev")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "prev", "cur",
            (F.log2((F.col("c2") + 1) / (F.col("c1") + F.col("__V")))).alias("__lp"),
        )
    )
    scored = pairs.join(model, ["prev", "cur"])
    per_doc = scored.groupBy("id").agg((-F.avg("__lp")).alias("log2_ppl"))
    return df.select(F.col(id_col).alias("id")).join(per_doc, "id", "left")


def _gram_df(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, gram): one row per word n-gram occurrence (grams joined by
    single spaces, the same ``_words`` tokenization as every other text
    op). Docs with fewer than n words contribute no rows."""
    base = df.select(F.col(id_col).alias("id"), _words(text_col).alias("__w"))
    grams = F.when(
        F.size("__w") >= n,
        F.expr(
            f"transform(sequence(1, size(__w) - {n - 1}),"
            f" i -> concat_ws(' ', slice(__w, i, {n})))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return base.select("id", F.explode(grams).alias("gram"))


def top_ngram_frac(
    df: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, top{n}gram_frac): the fraction of a document's n-gram
    occurrences taken by its single most frequent n-gram — the Gopher
    repetition filter (Rae et al. 2021 use n=2..4; boilerplate and
    template spam light up). NULL for docs with fewer than n words.
    Shape: explode → two hash aggregations, no joins until the final
    id-aligned left join — one corpus pass at any scale."""
    g = _gram_df(df, n, id_col, text_col)
    per = g.groupBy("id", "gram").agg(F.count("*").alias("__c"))
    frac = per.groupBy("id").agg(
        (F.max("__c") / F.sum("__c")).alias(f"top{n}gram_frac")
    )
    return df.select(F.col(id_col).alias("id")).join(frac, "id", "left")


def dup_ngram_frac(
    df: DataFrame, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, dup{n}gram_frac): the fraction of a document's n-gram
    occurrences that are repeats of an n-gram already seen in the same
    document (1 − distinct/total) — the Gopher duplicate-n-gram family
    (n=5..10 there). NULL for docs with fewer than n words."""
    g = _gram_df(df, n, id_col, text_col)
    agg = g.groupBy("id").agg(
        (1.0 - F.count_distinct("gram") / F.count("*")).alias(f"dup{n}gram_frac")
    )
    return df.select(F.col(id_col).alias("id")).join(agg, "id", "left")


def ngram_contamination(
    df: DataFrame,
    bench_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_shared_{n}grams, contaminated): benchmark decontamination —
    flag training documents sharing any word n-gram with a benchmark/eval
    set (n=13 is the published GPT-3 decontamination setting; The Pile
    uses the same shape). Scale design: the benchmark gram set is tiny
    against a 100 TB corpus, so both sides hash their grams to 60-bit
    ints (the portable md5 fold every hash-keyed op here uses) and the
    benchmark side is BROADCAST — the corpus streams its grams exactly
    once, no shuffle of the big side. Counts are distinct shared grams
    per document; docs with fewer than n words are trivially clean."""

    def h(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    gd = _gram_df(df, n, id_col, text_col).select("id", h(F.col("gram")).alias("__gh"))
    gb = (
        _gram_df(bench_df, n, id_col, text_col)
        .select(h(F.col("gram")).alias("__gh"))
        .distinct()
    )
    ncol = f"n_shared_{n}grams"
    shared = (
        gd.distinct()
        .join(F.broadcast(gb), "__gh")
        .groupBy("id")
        .agg(F.count("*").alias(ncol))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(shared, "id", "left")
        .select(
            "id",
            F.coalesce(F.col(ncol), F.lit(0)).alias(ncol),
            (F.coalesce(F.col(ncol), F.lit(0)) > 0).alias("contaminated"),
        )
    )
