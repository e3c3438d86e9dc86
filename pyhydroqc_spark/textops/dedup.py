"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame ops (hash/HOF expressions stay in
whole-stage codegen; the only shuffles are the ones the semantics demand):

* ``exact_dedup``     — content-hash groupBy; one shuffle on the digest.
* ``wordset_dedup``   — order/multiplicity-insensitive normalized key.
* ``jaccard_pairs``   — word-level Jaccard via explode + equi-join on the
  token. The token join is the scale hazard (hot tokens ≈ skewed keys):
  ``max_doc_freq`` drops tokens present in more than that fraction of docs
  (stopword cut), which both bounds skew and removes pairs that share only
  noise. AQE skew-join handles the rest.
  ``hot_tokens`` lists the tokens it drops.
* ``dup_components``  — connected components over near-dup pairs → one
  canonical keeper per component.
* MinHash LSH         — ``minhash_signatures`` (shingle → min-hash),
  ``banded_buckets`` (band → bucket) and ``minhash_candidates`` (docs
  sharing a band bucket): cost is O(candidates), not O(n²).
* ``simhash``         — 60-bit near-dup signature; ``simhash_candidates``
  pairs signatures within a hamming ball via band buckets on signature
  quarters.
* ``dup_spans``       — exact-substring dedup: per-document profile of
  corpus-wide duplicated n-gram spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _words(text_col: str, lowercase: bool = True):
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    return F.array_remove(F.split(c, r"\s+"), "")


def md5_60(col):
    """Portable 60-bit hash: first 15 hex chars of md5 as a BIGINT.

    Identical in Spark (``conv(substring(md5(x),1,15),16,10)``) and DuckDB
    (``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``) — used by the oracle
    path so DuckDB can replay minhash/simhash/fingerprint bit-for-bit.
    It is the one base hash of every text operator. md5(NULL) is NULL."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per duplicate group: (keep_id, dup_cnt) where keep_id is the
    smallest id with that exact content."""
    return (
        df.withColumn("__h", F.md5(F.col(text_col)))
        .groupBy("__h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
        .drop("__h")
    )


def wordset_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Dedup on the sorted distinct word set (bag-of-words identity)."""
    key = F.md5(F.array_join(F.array_sort(F.array_distinct(_words(text_col))), " "))
    return (
        df.withColumn("__k", key)
        .groupBy("__k")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
        .drop("__k")
    )


def _units(text_col: str, tokenizer):
    """Distinct comparison units: lowercase words, or char k-grams when
    ``tokenizer=("char", k)`` (n-gram Jaccard — robust to word reordering
    and whitespace edits)."""
    if tokenizer == "word":
        return F.array_distinct(_words(text_col))
    kind, k = tokenizer
    if kind != "char":
        raise ValueError(f"tokenizer must be 'word' or ('char', k), got {tokenizer!r}")
    c = F.lower(F.col(text_col))
    n = F.length(c)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), n - (k - 1))),
            lambda i: c.substr(i, F.lit(k)),
        )
    )


def hot_tokens(
    df: DataFrame,
    max_doc_freq: float,
    n_docs: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer="word",
) -> DataFrame:
    """Tokens present in more than ``max_doc_freq`` of documents — the set
    the jaccard skew guard drops. Exposed separately so callers can count /
    inspect / metrics-sink the dropped tokens without forcing extra jobs
    inside the query path (no silent caps: report this table alongside any
    guarded jaccard run). Lazy unless ``n_docs`` is None (then one count)."""
    if n_docs is None:
        n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(_units(text_col, tokenizer)).alias("w")
    )
    return (
        toks.groupBy("w")
        .agg(F.countDistinct("id").alias("df"))
        .where(F.col("df") > max_doc_freq * n_docs)
        .select("w")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: float | None = 0.5,
    tokenizer="word",
    n_docs: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with set Jaccard ≥ threshold.

    J(A,B) = |A∩B| / (|A|+|B|−|A∩B|), sets of distinct lowercase words
    (default) or char k-grams (``tokenizer=("char", k)``).

    ``max_doc_freq`` (default 0.5) is the skew guard: a token present in
    more than that fraction of documents joins every doc sharing it against
    every other — an all-pairs blow-up on hot tokens ("the"). Dropping such
    tokens changes which pairs clear ``threshold``, so the guard is part of
    the operator's contract (mirror it in any oracle); pass ``None`` to
    disable. NOTE: the default changed from None to 0.5 in round 2 — a
    deliberate breaking change (unguarded token joins are an all-pairs
    blow-up at scale); callers wanting the old semantics pass
    ``max_doc_freq=None``. Use :func:`hot_tokens` to report what the guard
    drops (no silent caps).

    The operator body is fully lazy when ``n_docs`` is supplied (pass it
    from table statistics or an already-known count); without it, the guard
    needs one eager ``df.count()`` to turn the frequency fraction into a
    row threshold.
    """
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(_units(text_col, tokenizer)).alias("w"))
    )
    if max_doc_freq is not None:
        hot = hot_tokens(
            df, max_doc_freq, n_docs=n_docs,
            id_col=id_col, text_col=text_col, tokenizer=tokenizer,
        )
        toks = toks.join(F.broadcast(hot), "w", "left_anti")
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    common = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def dup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    corpus: DataFrame | None = None,
    corpus_id: str = "doc_id",
    local_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs → canonical keep-list.

    The step that turns pairwise dedup output (jaccard / minhash / simhash
    / cosine pairs) into an actionable drop set: every doc gets the MINIMUM
    id reachable through the dup graph as its ``component``, and the one
    doc per component with ``keep = true`` is the canonical survivor.

    Physical shape: iterative min-label propagation PLUS pointer doubling
    (each round first takes the neighborhood min over the edge list, then
    jumps labels through labels — ``component := label(component)`` — so
    convergence is O(log diameter), not O(diameter); a 20-round budget
    covers chains of length ~2^20). The edge list is persisted ONCE before
    the loop — without that, every round would re-execute the full
    upstream pair-generation lineage (e.g. a jaccard token self-join), the
    most expensive subtree in the job at scale. Each round's label set is
    ``localCheckpoint(eager=True)``-ed: the round references labels three
    times (neighbor join, left join, jump table), so without truncating
    the LOGICAL plan each round the plan tree grows 3^k and Catalyst
    analysis itself becomes the bottleneck by round ~5 — persist alone
    caches data but not the plan. One count per round checks convergence
    (the iterative-algorithm exception to the no-eager rule, bounded by
    ``max_iter``).

    Returns (doc_id, component, keep). By default docs that appear in no
    pair are absent (they are trivially their own component, keep=true);
    pass ``corpus`` (any DataFrame with ``corpus_id``) to left-join it in
    and get the FULL keep-list including singletons.

    Raises RuntimeError if ``max_iter`` rounds exhaust without
    convergence — a silently partial merge would leave multiple keep=true
    survivors inside one true component, which for a dedup pipeline means
    silently shipping duplicates (no-silent-caps rule).

    The returned DataFrame reads from the final round's locally
    checkpointed labels (blocks are reclaimed by the ContextCleaner once
    the DataFrame is garbage-collected).
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        fwd.union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # strategy switch on measured size (the AQE broadcast-join idea applied
    # to an iterative algorithm): the count below materializes the persist
    # either way — the first propagation round used to pay it implicitly.
    # A small edge list (default <= 5M rows, ~80 MB of id pairs) is solved
    # exactly by driver-side union-find in ONE collect instead of
    # O(log d) rounds x 4 shuffles x (checkpoint + convergence job) each;
    # output is identical (min reachable id per component is unique).
    # At corpus scale the distributed loop below remains the path; pass
    # local_threshold=0 to force it.
    n_edges = edges.count()
    if local_threshold and n_edges <= local_threshold:
        pdf = edges.toPandas()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN id so every root is the component minimum
                lo, hi = (rs, rd) if rs < rd else (rd, rs)
                parent[hi] = lo
        ids = list(parent)
        comp = [find(i) for i in ids]
        edges.unpersist()
        id_type = pairs.schema[id_a].dataType
        from pyspark.sql.types import BooleanType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", id_type, True),
                StructField("component", id_type, True),
                StructField("keep", BooleanType(), True),
            ]
        )
        out = pairs.sparkSession.createDataFrame(
            [(i, c, i == c) for i, c in zip(ids, comp)], schema=schema
        )
        if corpus is not None:
            cids = corpus.select(F.col(corpus_id).alias("doc_id")).distinct()
            out = cids.join(out, "doc_id", "left").select(
                "doc_id",
                F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
                F.coalesce(F.col("keep"), F.lit(True)).alias("keep"),
            )
        return out
    prev = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    ).localCheckpoint(eager=True)
    converged = False
    try:
        for _ in range(max_iter):
            labels = prev
            nbr_min = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            stage1 = labels.join(
                nbr_min, labels["id"] == nbr_min["src"], "left"
            ).select(
                "id",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            # pointer doubling: jump each label through the label of its
            # current component (components are always node ids, so the
            # self-join on component == id matches except at roots). The
            # jump table is the PREVIOUS round's checkpointed labels —
            # jumping through any round's labels is safe (every label is a
            # reachable node, so label(label(u)) is reachable from u) and
            # avoids recomputing the unpersisted stage1 subtree twice.
            jump = labels.select(
                F.col("id").alias("__jid"), F.col("component").alias("__jcomp")
            )
            # eager localCheckpoint = the per-round materialization AND the
            # lineage cut in one step
            updated = (
                stage1.join(jump, stage1["component"] == jump["__jid"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("__jcomp"), F.col("component")),
                    ).alias("component"),
                    (
                        F.least(
                            F.col("component"),
                            F.coalesce(F.col("__jcomp"), F.col("component")),
                        )
                        < F.col("__old")
                    ).alias("__chg"),
                )
            ).localCheckpoint(eager=True)
            changed = updated.where(F.col("__chg")).limit(1).count()
            prev = updated.drop("__chg")
            if changed == 0:
                converged = True
                break
    finally:
        edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dup_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (pointer doubling makes each extra "
            "round square the reachable chain length)"
        )
    out = prev.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") == F.col("component")).alias("keep"),
    )
    if corpus is not None:
        ids = corpus.select(F.col(corpus_id).alias("doc_id")).distinct()
        out = ids.join(out, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            F.coalesce(F.col("keep"), F.lit(True)).alias("keep"),
        )
    return out


MERSENNE31 = (1 << 31) - 1  # universal-hash modulus (prime)


def minhash_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal-hash permutations
    h_i = (a_i·h + b_i) mod p — derived from md5 so any SQL engine can
    regenerate the identical constants."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        (
            h60(f"minhash|a|{i}") % (MERSENNE31 - 1) + 1,
            h60(f"minhash|b|{i}") % MERSENNE31,
        )
        for i in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, signature array<long>): min over permuted shingle hashes.

    Each character k-gram shingle is hashed ONCE (the dominant cost at
    scale); the ``num_perm`` permutations are universal hashes
    h_i = (a_i·h + b_i) mod (2³¹−1) over that base hash — 1 hash +
    num_perm multiply-adds per shingle instead of num_perm hashes. The
    base-hash pass and the per-permutation mins are separated by a
    projection so the hash array is computed once, not CSE'd by luck.
    The base hash is the portable 60-bit ``md5_60`` so an external SQL
    engine replays the signatures bit-for-bit (constants from
    ``minhash_params`` are md5-derived, regenerable anywhere).

    Physical shape: explode the shingle hashes and compute the
    ``num_perm`` running minima as MIN aggregates in ONE hash
    aggregation — whole-stage codegen end to end, exactly the simhash
    treatment. The previous array-``aggregate``/``zip_with`` fold
    evaluated 32 interpreted multiply-adds per shingle and dominated the
    minhash path. The groupBy shuffles ``num_perm+1`` longs per doc after
    map-side partial aggregation — O(docs), not O(shingles).
    """
    c = F.lower(F.col(text_col))
    n = F.length(c)
    # ONE transform straight to hashes (no intermediate substring array —
    # fusing the two HOFs saves a 60M-element array materialization pass
    # at 200k docs)
    hs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n - (shingle_k - 1))),
        lambda i: F.pmod(md5_60(c.substr(i, F.lit(shingle_k))), F.lit(MERSENNE31)),
    )
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode_outer(hs).alias("__h")
    )
    params = minhash_params(num_perm)
    counted = exploded.groupBy("id").agg(
        F.count("__h").alias("__n"),
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MERSENNE31)).alias(
                f"__m{i}"
            )
            for i, (a, b) in enumerate(params)
        ],
    )
    # NULL text → NULL signature (the old fold's aggregate-over-null
    # semantics); any non-null text yields >=1 shingle (substr of "" at
    # worst), so __n == 0 identifies exactly the null-text docs
    sig = F.when(
        F.col("__n") > 0,
        F.array(*[F.col(f"__m{i}").cast("long") for i in range(num_perm)]),
    )
    return counted.select("id", sig.alias("signature"))


def banded_buckets(sig_df: DataFrame, bands: int = 8) -> DataFrame:
    """(id, band, bucket): hash each signature band to its LSH bucket.

    Band b covers signature positions [floor(b·n/bands), floor((b+1)·n/bands))
    — every position lands in exactly one band for ANY (n, bands), including
    non-divisible combinations (equal slices when divisible)."""
    sig_df = sig_df.withColumn("__n", F.size("signature"))
    n = F.col("__n")
    return sig_df.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: md5_60(
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("signature"),
                                (F.floor(bidx * n / bands) + 1).cast("int"),
                                (F.floor((bidx + 1) * n / bands) - F.floor(bidx * n / bands)).cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    ),
                ),
            )
        ).alias("band", "bucket"),
    )


def minhash_candidates(sig_df: DataFrame, bands: int = 8) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs
    (id_a < id_b under the id type's natural ordering).

    Physical shape: ONE aggregation on (band, bucket) + in-bucket pair
    enumeration via array HOFs — the signature/banding subtree is computed
    once, unlike a bucket self-join whose two join inputs each re-derive
    it. Bucket member lists are near-dup-sized by construction; a
    pathological hot bucket shows up as one big task, the cue to raise
    ``bands`` (more, narrower buckets), not to cap silently."""
    banded = banded_buckets(sig_df, bands)
    # pin the bucket-stage parallelism (the simhash/cosine_dup lesson):
    # banded rows are tiny by BYTES so AQE coalescing would serialize the
    # CPU-quadratic in-bucket enumeration onto one task
    banded = banded.repartition(
        sig_df.sparkSession.sparkContext.defaultParallelism, "band", "bucket"
    )
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """SimHash over distinct words: bit j of the signature is the sign of
    Σ_w (±1 depending on bit j of ``md5_60(w)``), a portable 60-bit hash
    (so bits<=60) replayable in plain SQL.

    Physical shape: explode the distinct words and compute the per-bit ±1
    sums as ``bits`` conditional SUM aggregates in ONE hash aggregation —
    every expression stays inside whole-stage codegen. The previous
    formulation (per-word array-of-±1 built inside an ``aggregate`` HOF
    lambda) evaluated 60 interpreted when-expressions per word per doc and
    was the dominant cost of the simhash path; the aggregation form is the
    same arithmetic JIT-compiled. The groupBy shuffles only ``bits+1``
    longs per doc after map-side partial aggregation — O(docs), not
    O(words). The per-bit sums and the signature fold are SQL text: as
    Column-API trees they cost ~11k py4j round trips to build on the
    driver, as text about 500."""
    if bits > 60:
        raise ValueError("md5 hash provides 60 bits; pass bits<=60")
    words = F.array_distinct(_words(text_col))
    # md5_60(NULL) is NULL, so the NULL word explode_outer emits for a
    # zero-word doc is not counted
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode_outer(words).alias("__w")
    ).select("id", md5_60(F.col("__w")).alias("__hv"))
    # acc_j = Σ ±1 = 2·(count of words with bit j set) − n, so the sign
    # test acc_j > 0 becomes 2·c_j > n. explode_outer keeps zero-word docs
    # (n = 0 → all bits fail the test → signature 0).
    counted = exploded.groupBy("id").agg(
        F.expr("count(`__hv`) AS `__n`"),
        *[
            F.expr(f"sum(CAST(shiftright(`__hv`, {j}) & 1 AS BIGINT)) AS `__c{j}`")
            for j in range(bits)
        ],
    )
    # bit j set iff 2·c_j > n: a left-deep OR chain, parenthesized
    sig = "CAST(0 AS BIGINT)"
    for j in range(bits):
        sig = (
            f"({sig} | CASE WHEN `__c{j}` * 2 > `__n` THEN "
            f"shiftleft(CAST(1 AS BIGINT), {j}) ELSE CAST(0 AS BIGINT) END)"
        )
    return counted.selectExpr("id", f"{sig} AS simhash")


# in-bucket pair enumeration over an id-sorted ``ms: array<struct<id,
# simhash>>`` (array_sort orders by id, so x < y positionally)
_BUCKET_PAIRS = (
    "inline(flatten(transform(ms, (x, i) -> transform("
    "slice(ms, i + 2, greatest(size(ms) - i - 1, 0)), "
    "y -> struct(x.id AS id_a, y.id AS id_b, x.simhash AS h_a, y.simhash AS h_b)))))"
)
_MEMBERS = "array_sort(collect_list(struct(id, simhash))) AS ms"
# the signature's four 16-bit quarters
_QUARTERS = "array(" + ", ".join(
    f"shiftright(simhash, {16 * q}) & 65535" for q in range(4)
) + ")"
# the 48 bits outside quarter q, packed into one long
_R48 = (
    f"(element_at(filter({_QUARTERS}, (x, i) -> i != q), 1)"
    f" | shiftleft(element_at(filter({_QUARTERS}, (x, i) -> i != q), 2), 16)"
    f" | shiftleft(element_at(filter({_QUARTERS}, (x, i) -> i != q), 3), 32))"
)


def _buckets(banded: DataFrame, *keys: str) -> DataFrame:
    """(keys..., ms) of every bucket with two or more members."""
    return banded.groupBy(*keys).agg(F.expr(_MEMBERS)).where("size(ms) > 1")


def simhash_candidates(
    sig_df: DataFrame, max_hamming: int = 3, bucket_cap: int = 512
) -> DataFrame:
    """Near-dup pairs via 16-bit quarter-band buckets (a pair within hamming
    distance 3 shares at least one exact quarter), then exact hamming check.

    Scale safety — adaptive multi-index splitting: expected occupancy of a
    fixed 16-bit quarter bucket grows as n/2^16, so in-bucket enumeration
    alone would grow quadratically with corpus size. Buckets larger than
    ``bucket_cap`` are therefore NOT enumerated directly: their members are
    re-banded on the remaining 48 bits split into four 12-bit sub-blocks.
    Pigeonhole still guarantees recall — inside a (quarter, value) bucket
    the members already agree on 16 bits, so a qualifying pair's ≤3
    differing bits fall in the other 48, and splitting those into 4
    sub-blocks leaves at least one sub-block equal. The exact hamming
    recheck keeps precision exact. Enumeration work per hot bucket drops
    from O(m²) to Σ O(m_s²) with E[m_s] ≈ m/2^12; truly identical-signature
    clusters remain output-bound (every pair IS a result) which no banding
    can avoid. For corpora where even the sub-buckets run hot, minhash
    banding (tunable band count) is the documented scale path.

    Every expression is SQL text: as Column-API trees the banding and
    the pair enumeration cost ~2,200 py4j round trips per build."""
    n = sig_df.sparkSession.sparkContext.defaultParallelism
    cap = int(bucket_cap)
    # one aggregation + in-bucket pair enumeration — the signature subtree
    # is computed once, not re-derived per self-join input. The explicit
    # repartition pins the bucket stage's parallelism: the banded rows are
    # tiny by BYTES (AQE would coalesce to one task) while the signature
    # fold feeding them is CPU-heavy.
    banded = sig_df.selectExpr(
        "id", "simhash", f"posexplode({_QUARTERS}) AS (q, qv)"
    ).repartition(n, "q", "qv")
    grouped = _buckets(banded, "q", "qv")
    small_pairs = grouped.where(f"size(ms) <= {cap}").selectExpr(_BUCKET_PAIRS)

    # hot buckets: explode back to members and re-band on the remaining
    # 48 bits (the three quarters OTHER than the bucket's own, packed into
    # one long) split into four 12-bit sub-blocks
    hot = grouped.where(f"size(ms) > {cap}").selectExpr(
        "q", "qv", "inline(ms)"
    )
    subs = "array(" + ", ".join(
        f"shiftright({_R48}, {12 * s}) & 4095" for s in range(4)
    ) + ")"
    sub_banded = hot.selectExpr(
        "q", "qv", "id", "simhash", f"posexplode({subs}) AS (sq, sv)"
    ).repartition(n, "q", "qv", "sq", "sv")
    hot_grouped = _buckets(sub_banded, "q", "qv", "sq", "sv")
    hot_pairs = hot_grouped.where(f"size(ms) <= {cap}").selectExpr(_BUCKET_PAIRS)

    # SECOND split level (r5): a sub-bucket still over the cap agrees on
    # 16 + 12 = 28 bits, so a qualifying pair's ≤3 differing bits lie in
    # the remaining 36 — split THOSE into four 9-bit blocks (pigeonhole
    # again leaves one block equal). This bounds enumeration at corpus
    # sizes where even the 12-bit sub-buckets run hot (~10M+ docs with
    # large boilerplate clusters). Identical-signature clusters remain
    # output-bound at every level — past that, minhash banding (tunable
    # band count) is the documented routing escape.
    hot2 = hot_grouped.where(f"size(ms) > {cap}").selectExpr(
        "q", "qv", "sq", "sv", "inline(ms)"
    )
    # r36 = the 48 non-quarter bits with the sq-th 12-bit block removed
    # (shift amounts must be literals under ANSI — CASE over the 4 values)
    r36 = "CASE" + "".join(
        f" WHEN sq = {s} THEN ({_R48} & {(1 << (12 * s)) - 1})"
        f" | shiftleft(shiftright({_R48}, {12 * (s + 1)}), {12 * s})"
        for s in range(4)
    ) + " END"
    sub2 = "array(" + ", ".join(
        f"shiftright({r36}, {9 * s2}) & 511" for s2 in range(4)
    ) + ")"
    # no forced repartition here (unlike level 1): the level-2 subtree is
    # EMPTY unless 12-bit sub-buckets run hot, and a pinned 32-task
    # exchange on an empty stage costs ~1.5s of pure scheduling at bench
    # SF; when the stage does carry data its parallelism is bounded by
    # the (small) hot-sub-bucket count anyway, which AQE sizes correctly
    sub2_banded = hot2.selectExpr(
        "q", "qv", "sq", "sv", "id", "simhash", f"posexplode({sub2}) AS (ssq, ssv)"
    )
    hot2_pairs = _buckets(sub2_banded, "q", "qv", "sq", "sv", "ssq", "ssv").selectExpr(
        _BUCKET_PAIRS
    )

    pairs = small_pairs.union(hot_pairs).union(hot2_pairs).distinct()
    return pairs.selectExpr(
        "id_a", "id_b", "bit_count(h_a ^ h_b) AS hamming"
    ).where(f"hamming <= {int(max_hamming)}")


# --------------------------------------------------------------------------
# exact-substring (duplicated-span) deduplication — Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better": any text
# span whose length-n gram appears more than once ANYWHERE in the corpus
# (cross-doc or within-doc) is a duplicated span; overlapping/contiguous
# marks merge into maximal spans. The paper operates on 50-BPE-token
# substrings via a suffix array; the distributed re-expression below is
# the standard hashed-n-gram variant: identical output marks for every
# duplication at least n words long, no suffix array required.
# Engine-added LLM-pipeline operator (no pyhydroqc counterpart).
# --------------------------------------------------------------------------


def dup_spans(
    df: DataFrame,
    n: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, n_dup_spans, dup_words, dup_word_frac): per-document
    profile of corpus-wide duplicated substrings.

    A word n-gram occurrence is *marked* when its gram occurs >= 2 times
    in the whole corpus (including a second time in the same document —
    the paper's self-repetition case). Marked occurrences cover word
    span [pos, pos+n-1]; overlapping or contiguous spans merge into
    islands (gaps-and-islands over a running-max window). Output per doc:
    island count, words covered, covered fraction (NULL when the doc has
    no words; 0s when it has no duplicated span).

    Scale (100 TB): the occurrence stream is (id, pos, 60-bit gram hash)
    — ~20 B/row, never the gram text. Corpus-wide counting is a window
    count over the gram-hash partition (no ORDER BY — an unbounded-frame
    count), so the expensive explode+gram-hash subtree is evaluated ONCE:
    a first version counted via map-side-combined ``groupBy(hash)`` +
    join, but that re-evaluates the explode for each side (two full
    corpus passes, measured 2×3-4s of the 11s wall at 200k docs), and at
    real scale the dup-gram set outgrows a broadcast so the big side gets
    shuffled by hash anyway — identical shuffle + skew exposure, one
    fewer corpus pass. A boilerplate gram concentrates its rows on one
    count partition; the count-only window streams them (sort-spill)
    rather than materializing anything per gram. The span-merge window
    partitions by doc — bounded by document length.
    """
    base = df.select(F.col(id_col).alias("id"), _words(text_col).alias("__w"))
    gram_arr = F.when(
        F.size("__w") >= n,
        F.expr(
            f"transform(sequence(1, size(__w) - {n - 1}),"
            f" i -> concat_ws(' ', slice(__w, i, {n})))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    occ = base.select("id", F.posexplode(gram_arr).alias("pos0", "gram")).select(
        "id",
        (F.col("pos0") + 1).alias("pos"),  # 1-based start word index
        md5_60(F.col("gram")).alias("__gh"),
    )
    marked = (
        occ.withColumn("__c", F.count("*").over(Window.partitionBy("__gh")))
        .where(F.col("__c") >= 2)
        .select("id", "pos", (F.col("pos") + (n - 1)).alias("end"))
    )

    w_ord = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("end").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    started = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
    ).otherwise(0)
    islands = (
        marked.withColumn("__st", started)
        .withColumn(
            "__isl",
            F.sum("__st").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "__isl")
        .agg(F.min("pos").alias("__s"), F.max("end").alias("__e"))
    )
    per_doc = islands.groupBy("id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("__e") - F.col("__s") + 1).alias("dup_words"),
    )

    nw = base.select("id", F.size("__w").alias("n_words"))
    return nw.join(per_doc, "id", "left").select(
        "id",
        F.col("n_words").cast("long").alias("n_words"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(F.col("dup_words"), F.lit(0)).cast("long").alias("dup_words"),
        F.when(
            F.col("n_words") > 0,
            F.coalesce(F.col("dup_words"), F.lit(0)) / F.col("n_words"),
        ).alias("dup_word_frac"),
    )

