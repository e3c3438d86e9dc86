"""Approximate-nearest-neighbor search over embedding columns.

Top-k surfaces, each returning (query_id, neighbor_id, cosine, rank) with
ties pinned by ``_top_k_by_cosine`` (cosine desc, neighbor id asc):

* ``cosine_topk`` — exact brute force: broadcast the (small) query side,
  dot products via ``zip_with`` + ``aggregate`` (JVM-side, no UDF), rank
  with a window. The baseline and the correctness oracle.
* ``ivf_topk``    — IVF-flat: each vector sits in its nearest coarse cell,
  a query probes its ``nprobe`` nearest cells and reranks them exactly.
* ``lsh_topk``    — sign-random-projection buckets (Charikar hyperplane
  LSH); candidates only within matching buckets, then exact rerank. At
  10^9 vectors the bucket join replaces the full cross join.
* ``ivfpq_topk``  — IVFADC over an ``ivfpq_index`` of PQ codes: a
  probed-cell ADC scan, then exact rerank of the best ``refine``. One
  cell with ``nprobe=1`` is plain PQ/ADC.

Near-duplicate pairs (id_a < id_b, cosine): ``cosine_dup_pairs`` (sign-LSH
buckets over full vectors) and ``ivfpq_dup_pairs`` (per-cell symmetric
distance over PQ codes). Cells, planes and codebooks are md5-derived
(``ivf_centroids``, ``md5_planes``, ``pq_codebooks_hash``) so a SQL oracle
replays them, or trained on a bounded sample (``train_ivf_centroids``,
``train_pq_codebooks``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine_rerank(cand: DataFrame, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id_a, id_b) candidates → (id_a, id_b, cosine) by exact cosine,
    computed in an Arrow numpy kernel instead of the per-row interpreted
    HOF ``_dot``/``_norm`` expressions: LSH candidate sets are routinely
    10²–10³ × the final pair count (816k candidates for 3k pairs at
    sf0.1), so the rerank is the arm's hot loop. Bit-parity with the SQL
    oracle's sequential fold: per-dimension accumulation in d-ascending
    order (vectorized over rows), zero-padding ≡ ``zip_with``'s
    truncate-to-shorter for dots and a no-op for norms. NULL vectors are
    dropped up front (the HOF path's NULL cosine never passes the
    caller's ``>=`` filter); the threshold filter itself stays JVM-side
    so NaN ordering semantics are untouched."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    idt = df.schema[id_col].dataType
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    joined = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(F.col("__va").isNotNull() & F.col("__vb").isNotNull())
    )
    schema = StructType(
        [
            StructField("id_a", idt, True),
            StructField("id_b", idt, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def _mat(col, n):
        """Arrow list column → (n, dim) float64, zero-copy flat buffer on
        the uniform-length fast path (a pandas version of this kernel
        spent more time building 10⁷ per-row ndarray objects than doing
        the math — GC-bound at 9M pairs)."""
        offs = np.asarray(col.offsets)
        vals = np.asarray(col.values).astype(np.float64)
        widths = np.diff(offs)
        if len(widths) and (widths == widths[0]).all():
            return vals[offs[0] : offs[-1]].reshape(n, int(widths[0]))
        dim = int(widths.max()) if len(widths) else 0
        M = np.zeros((n, dim), dtype=np.float64)
        for i in range(n):
            M[i, : widths[i]] = vals[offs[i] : offs[i + 1]]
        return M

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            A = _mat(rb.column(2), n)
            B = _mat(rb.column(3), n)
            dim = max(A.shape[1], B.shape[1])
            if A.shape[1] < dim:
                A = np.pad(A, ((0, 0), (0, dim - A.shape[1])))
            if B.shape[1] < dim:
                B = np.pad(B, ((0, 0), (0, dim - B.shape[1])))
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            # sequential over d: bit-parity with the SQL oracle's
            # left-to-right fold (zero-padding ≡ zip_with truncation for
            # the dot, a no-op for the norms)
            for dd in range(dim):
                a, b = A[:, dd], B[:, dd]
                dot += a * b
                na += a * a
                nb += b * b
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (np.sqrt(na) * np.sqrt(nb))
            yield pa.record_batch(
                [rb.column(0), rb.column(1), pa.array(cos, type=pa.float64())],
                names=["id_a", "id_b", "cosine"],
            )

    return joined.select("id_a", "id_b", "__va", "__vb").mapInArrow(run, schema)


def _top_k_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): the ``k`` best neighbors of
    each query. Ties on cosine break by neighbor id ascending — the order
    every top-k surface and its SQL oracle pin."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, cosine, rank).

    A query is never its own neighbor. Ties broken by neighbor id
    ascending (deterministic across engines).
    """
    base = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__nv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
        _norm(F.col(vec_col)).alias("__nq"),
    )
    joined = base.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.withColumn(
        "cosine", _dot(F.col("__v"), F.col("__q")) / (F.col("__nv") * F.col("__nq"))
    )
    return _top_k_by_cosine(scored, k)


def md5_planes(
    df: DataFrame, vec_col: str, n_planes: int, n_tables: int, dim: int | None
) -> list[list[list[float]]]:
    """Hash-derived projection planes for sign-projection LSH, uniform in
    [-1, 1): component (p, d) of table t is md5_60(f"{t}|{p}|{d}") / 2^59
    - 1. Replayable in any SQL engine with md5 (DuckDB:
    ``CAST('0x'||substr(md5(k),1,15) AS BIGINT)``), which makes the whole
    LSH pipeline oracle-checkable. Uniform (not Gaussian) components are
    fine for sign-projection LSH. ``dim=None`` probes the first vector."""
    import hashlib

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    return [
        [
            [
                int(hashlib.md5(f"{t}|{p}|{d}".encode()).hexdigest()[:15], 16)
                / 2.0**59
                - 1.0
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def ivf_centroids(dim: int, nlist: int) -> list[list[float]]:
    """Hash-derived coarse-quantizer centroids, uniform in [-1, 1):
    component (c, d) = md5_60(f"ivf|{c}|{d}") / 2^59 - 1 — deterministic and
    replayable in any SQL engine with md5 (no k-means iterations, so the
    partitioning itself is oracle-checkable; plug a trained codebook in via
    the ``centroids`` argument of ``ivf_topk`` for production recall)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"ivf|{c}|{d}".encode()).hexdigest()[:15], 16) / 2.0**59
            - 1.0
            for d in range(dim)
        ]
        for c in range(nlist)
    ]


def train_ivf_centroids(
    df: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    sample_n: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Lloyd k-means on a bounded driver-side sample → an IVF codebook.

    The scale contract: only ``sample_n`` vectors ever reach the driver
    (a fixed-seed sample — at 10^9 rows the sample fraction is tiny and the
    codebook quality depends on sample size, not table size). Pass the
    result as ``ivf_topk(centroids=...)`` for data-adaptive cells; empty
    clusters re-seed from the point farthest from its centroid."""
    frac = None
    sample = df.select(vec_col)
    n_total = sample.count()
    if n_total > sample_n:
        frac = min(1.0, (sample_n * 1.2) / n_total)
        sample = sample.sample(fraction=frac, seed=seed)
    X = np.array(sample.limit(sample_n).toPandas()[vec_col].tolist(), dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
            else:
                worst = int(d2[np.arange(len(X)), assign].argmax())
                cents[c] = X[worst]
    return cents.tolist()


def _cell_dists(vec_col, cents: list[list[float]]):
    """array<struct(d, cell)>: d = |c|² − 2·v·c (same argmin as L2², the
    |v|² term is constant per vector). Python-sum norm keeps the literal's
    summation order identical to a sequential SQL dot product."""
    entries = []
    for i, c in enumerate(cents):
        cnorm = 0.0
        for x in c:
            cnorm += x * x
        carr = F.array(*[F.lit(float(x)) for x in c])
        entries.append(
            F.struct(
                (F.lit(cnorm) - 2.0 * _dot(F.col(vec_col), carr)).alias("d"),
                F.lit(i).alias("cell"),
            )
        )
    return F.array(*entries)


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: (query_id, neighbor_id, cosine, rank).

    Each vector is assigned to its nearest of ``nlist`` coarse centroids
    (one cell per vector — an inverted file); a query probes its ``nprobe``
    nearest cells and reranks those candidates exactly. The cell join
    replaces the cross join: at 10^9 vectors the per-query candidate set is
    ~nprobe/nlist of the data, and the assignment is a pure column
    expression computed once (persist or write it as a partition column in
    production). Ties in cell assignment break toward the lower cell id on
    both engines (struct min on (d, cell))."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    cents = centroids or ivf_centroids(dim, nlist)

    base = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        F.array_min(_cell_dists(vec_col, cents))["cell"].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
        F.explode(
            F.transform(
                F.slice(F.array_sort(_cell_dists(vec_col, cents)), 1, nprobe),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )
    cand = base.join(F.broadcast(q), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cosine",
        _dot(F.col("__v"), F.col("__q")) / (_norm(F.col("__v")) * _norm(F.col("__q"))),
    )
    return _top_k_by_cosine(scored, k)


def _with_buckets(d: DataFrame, tables, id_col: str, vec_col: str, idc: str) -> DataFrame:
    """(idc, table, bucket) — one row per (vector, hash table), ids only.

    Physical shape (r5): an Arrow-batched ``mapInPandas`` kernel computes
    every (table, plane) dot with numpy over the whole batch — vectorized
    over ROWS, sequential over the dimension axis, so each per-row sum
    adds components in d-ascending order and stays BIT-IDENTICAL to a
    sequential SQL ``list_dot_product`` (the oracle) and to the previous
    HOF fold. Two earlier formulations both lost to this on the bench:
    per-(table, plane) HOF ``aggregate`` dots are interpreted per row, and
    the explode + literal-``element_at`` conditional-SUM codegen fold
    (the simhash treatment) embeds n_tables × n_planes × dim literals in
    the plan — Catalyst analysis + codegen COMPILE of that plan cost ~5s
    per invocation, dwarfing execution. The kernel keeps the plan tiny
    (planes ride the closure, one Arrow exchange) and the arithmetic is
    C-speed; at 10^9 rows it is also the FLOP-optimal shape.

    Vectors deliberately do NOT ride along — the candidate join and pair
    dedup work on ids, and callers re-join vectors only for the final
    exact rerank (at 10^9 rows the difference is shipping 8 B/candidate
    instead of 8+4·dim B)."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    n_tables, n_planes = len(tables), len(tables[0])
    dim = len(tables[0][0])
    # H[t, p, d] — one dense coefficient block in the closure
    H = np.asarray(tables, dtype=np.float64)
    schema = StructType(
        [
            StructField(idc, d.schema[id_col].dataType, True),
            StructField("table", IntegerType(), False),
            StructField("bucket", LongType(), False),
        ]
    )

    def run(batches):
        tbl_ix = np.arange(n_tables, dtype=np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].values
            vecs = pdf[vec_col]
            # edge parity with the replaced HOF expression: an EMPTY array
            # aggregates to dot 0.0 → every sign bit set (zero init below
            # covers that); a NULL vector gave NULL dot → when(...).
            # otherwise(0) → bucket 0 in EVERY table (null_mask below); a
            # vector LONGER than the plane dim is truncated — the HOF
            # zip_with dot stopped at the shorter length
            X = np.zeros((len(pdf), dim), dtype=np.float64)
            null_mask = np.zeros(len(pdf), dtype=bool)
            for i, v in enumerate(vecs):
                if v is None:
                    null_mask[i] = True
                elif len(v):
                    a = np.asarray(v[:dim], dtype=np.float64)
                    X[i, : len(a)] = a
            dots = np.zeros((len(pdf), n_tables, n_planes))
            # sequential over d: per-row addition order identical to a
            # scalar left-to-right sum (bit-parity with the SQL oracle)
            for dd in range(dim):
                dots += X[:, dd, None, None] * H[None, :, :, dd]
            # Spark orders NaN above every number (NaN >= 0 is true);
            # numpy says False — OR in isnan for bit parity
            bits = ((dots >= 0.0) | np.isnan(dots)).astype(np.int64)
            buckets = (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=2)
            buckets[null_mask] = 0
            yield pd.DataFrame(
                {
                    idc: np.repeat(ids, n_tables),
                    "table": np.tile(tbl_ix, len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return d.select(
        F.col(id_col), F.col(vec_col)
    ).mapInPandas(run, schema=schema)


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine).

    Candidates = vectors sharing a sign-LSH bucket in ANY table, found by
    ONE bucket aggregation + in-bucket pair enumeration (the r3 LSH
    lesson: a self-join of the banded table scans and shuffles the
    signature subtree twice; groupBy + collect_list + an array-HOF
    upper-triangle expansion scans it once) — never the n² cross join.
    Exact cosine rerank keeps pairs ≥ threshold. The ``md5_planes``
    make the candidate set replayable by a SQL oracle."""
    tables = md5_planes(df, vec_col, n_planes, n_tables, dim)
    banded = _with_buckets(df, tables, id_col, vec_col, "id")
    # pin the bucket-stage parallelism (the simhash_candidates lesson):
    # banded rows are tiny by BYTES so AQE coalescing would serialize the
    # CPU-quadratic in-bucket pair enumeration onto one task — measured
    # 1.7x slower at bench SF (1.04M enumerated pairs, 128 buckets)
    banded = banded.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "table", "bucket"
    )
    grouped = (
        banded.groupBy("table", "bucket")
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
    cand = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # id-only candidates through the bucket join + dedup; vectors re-join
    # once per side for the exact rerank (Arrow kernel — the candidate
    # set is ~10²× the output, so interpreted per-row HOF dots were the
    # arm's hot loop)
    scored = _cosine_rerank(cand, df, id_col, vec_col)
    return scored.where(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing a bucket with the
    query in ANY of ``n_tables`` hash tables, reranked exactly.

    Recall grows with n_tables; the join is (bucket, table)-keyed instead
    of a cross join — the piece that survives 10^9 rows.

    Pass ``dim`` explicitly to avoid a metadata job (falls back to a
    ``.first()`` probe). The planes are hash-derived (``md5_planes``) so
    an external SQL oracle can replay the bucketing.
    """
    tables = md5_planes(df, vec_col, n_planes, n_tables, dim)

    def with_buckets(d, idc):
        return _with_buckets(d, tables, id_col, vec_col, idc)

    base_b = with_buckets(df, "neighbor_id")
    q_b = with_buckets(queries, "query_id")
    cand = (
        base_b.join(F.broadcast(q_b), on=["table", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # vectors join the plan only AFTER candidate dedup — the bucket join
    # and distinct ship two longs per row, not 4·dim bytes of floats
    nvec = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    scored = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "cosine",
            _dot(F.col("__nv"), F.col("__qv"))
            / (_norm(F.col("__nv")) * _norm(F.col("__qv"))),
        )
    )
    return _top_k_by_cosine(scored, k)


# ---------------------------------------------------------------- PQ (ADC)

def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    sample_n: int = 10_000,
    iters: int = 8,
    seed: int = 42,
) -> list:
    """Product-quantization codebooks: split the dimension into ``m`` equal
    subvectors and run Lloyd k-means (``k`` centroids) per subvector on a
    bounded driver-side sample — same scale contract as
    ``train_ivf_centroids`` (≤ sample_n vectors ever reach the driver).
    Vectors are L2-normalized first so PQ distance ranks like cosine.
    Returns ``m`` codebooks, each a (k, d/m) nested list."""
    frac_df = df.select(vec_col)
    n_total = frac_df.count()
    if n_total > sample_n:
        frac_df = frac_df.sample(fraction=min(1.0, sample_n * 1.2 / n_total), seed=seed)
    X = np.array(frac_df.limit(sample_n).toPandas()[vec_col].tolist(), dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sd = d // m
    books = []
    for j in range(m):
        S = X[:, j * sd : (j + 1) * sd]
        kk = min(k, len(S))
        cents = S[rng.choice(len(S), size=kk, replace=False)]
        for _ in range(iters):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                mem = S[assign == c]
                if len(mem):
                    cents[c] = mem.mean(axis=0)
                else:
                    cents[c] = S[int(d2[np.arange(len(S)), assign].argmax())]
        books.append(cents.tolist())
    return books


def ivfpq_index(
    df: DataFrame,
    centroids: list,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_assign: int = 1,
) -> DataFrame:
    """Build the IVFADC index: (id, vector) → (id, cell, codes) in ONE
    Arrow pass — IVF coarse-cell assignment plus PQ sub-codes, both from
    BLAS distance matrices over the whole batch (no per-row Python).

    Vectors are L2-normalized first (cells partition the unit sphere, so
    coarse assignment ranks like cosine — same convention as
    ``train_pq_codebooks``). Codes quantize ``x`` itself,
    not the residual ``x − centroid[cell]``: they are independent of the
    cell, so a SQL oracle can replay them with the ``pq_codebooks_hash``
    recipe and a multi-assigned vector is encoded once.

    ``n_assign > 1`` replicates each vector into its n nearest cells
    (multi-assignment) — the standard mitigation for IVF's boundary
    blindness when the index feeds a SELF-join (``ivfpq_dup_pairs``):
    two near-dups split by a Voronoi boundary still co-occur in some
    cell as long as their top-n assignments overlap. Index size grows
    n×; top-k probing should keep n_assign=1 (nprobe on the query side
    already covers boundaries there).

    At 10^9 vectors write the result partitioned BY ``cell`` — the probe
    filter then becomes partition pruning and a query touches only
    ``nprobe/nlist`` of the files."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cents = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sd = books[0].shape[1]
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("cell", IntegerType(), False),
            StructField("codes", ArrayType(IntegerType(), False), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            # ||x-c||² argmin == (|c|² - 2 x·c) argmin; rank ties → lower
            # cell id (stable argsort), matching ORDER BY d, c in SQL
            d2 = (cents**2).sum(axis=1)[None, :] - 2.0 * (X @ cents.T)
            ranked = np.argsort(d2, axis=1, kind="stable")[:, :n_assign]
            codes = np.empty((len(X), m), dtype=np.int32)
            for j, bk in enumerate(books):
                S = X[:, j * sd : (j + 1) * sd]
                dj = (bk**2).sum(axis=1)[None, :] - 2.0 * (S @ bk.T)
                codes[:, j] = dj.argmin(axis=1)
            frames = [
                pd.DataFrame(
                    {id_col: pdf[id_col].values, "cell": ranked[:, a].astype(np.int32),
                     "codes": list(codes)}
                )
                for a in range(n_assign)
            ]
            yield frames[0] if n_assign == 1 else pd.concat(
                frames, ignore_index=True
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema=schema)


def ivfpq_topk(
    index_df: DataFrame,
    queries: DataFrame,
    centroids: list,
    codebooks: list,
    full_vectors: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC top-k: probe-cell-pruned ADC scan over PQ codes → exact
    rerank against ``full_vectors``: (query_id, neighbor_id, cosine,
    rank). It composes two scale levers: ``ivf_topk``'s cell pruning
    (touch ``nprobe/nlist`` of the corpus per query, not all of it) and
    product quantization's at-rest compression (score m-byte codes from
    RAM via a driver-tiny asymmetric-distance lookup table). With one
    cell (``ivf_centroids(dim, 1)``, ``nprobe=1``) it is plain PQ/ADC
    over the whole corpus (Jégou et al., TPAMI 2011, §V) — the
    ``pq_topk`` query runs it that way.

    Shape at 10^9 vectors: the probed-cell filter prunes the scan (a
    partition filter when the index is written partitioned by cell); the
    (query, cell) probe lists ride the kernel closure; the kernel emits
    only each partition's top ``refine`` per query, so the one shuffle
    carries O(partitions × queries × refine) rows; the exact rerank joins
    ``refine`` candidate ids back to full vectors. No cross join anywhere.

    Codes are cell-independent (``ivfpq_index``), so each query has one
    driver-tiny ADC lookup table of m × k doubles for all its probed
    cells."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cents = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sd = books[0].shape[1]

    qrows = queries.select(id_col, vec_col).collect()
    qids = [r[id_col] for r in qrows]
    Qraw = [list(map(float, r[vec_col])) for r in qrows]
    Q = np.array(Qraw, dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    # probe cells per query: nprobe nearest centroids (ties → lower cell)
    qd2 = (cents**2).sum(axis=1)[None, :] - 2.0 * (Q @ cents.T)
    order = np.argsort(qd2, axis=1, kind="stable")[:, :nprobe]
    probe_pairs = [(qi, int(c)) for qi in range(len(Q)) for c in order[qi]]

    # per-query ADC lookup tables (m, k), driver-side and tiny
    luts = [
        np.stack(
            [((q[j * sd : (j + 1) * sd][None, :] - books[j]) ** 2).sum(axis=1) for j in range(m)]
        )
        for q in Q
    ]

    # cell-membership filter prunes the scan (partition pruning when the
    # index is written partitioned by cell); NO probe join — each index
    # row is read ONCE and the kernel scores it against exactly the
    # queries that probed its cell (per-cell batch vectorization), so the
    # candidate row set is never duplicated per query the way a
    # (query, cell) fanout join would
    probed_cells = sorted({c for _, c in probe_pairs})
    probes_by_cell: dict = {}
    for qi, c in probe_pairs:
        probes_by_cell.setdefault(c, []).append(qi)
    cand_rows = index_df.where(F.col("cell").isin(probed_cells))

    out_schema = StructType(
        [
            StructField("query_ix", LongType(), False),
            StructField("neighbor_id", index_df.schema[id_col].dataType, False),
            StructField("adc", DoubleType(), False),
        ]
    )
    jix = np.arange(m)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            cell = pdf["cell"].to_numpy(dtype=np.int64)
            ids = pdf[id_col].values
            # accumulate raw numpy chunks; ONE frame per batch (building a
            # pandas frame per (cell, query) pair dominated the kernel)
            q_chunks: dict = {}
            for c in np.unique(cell):
                qlist = probes_by_cell.get(int(c))
                if not qlist:
                    continue
                sel = cell == c
                codes_c = codes[sel]
                ids_c = ids[sel]
                # (len(qlist), m, k) LUT stack → dist (len(qlist), n_c)
                lut3 = np.stack([luts[qi] for qi in qlist])
                dist = lut3[:, jix[None, :], codes_c].sum(axis=2)
                # keep only each query's best `refine` of THIS cell — the
                # per-batch merge below re-refines across cells. Self is
                # excluded BEFORE the prune (it must not consume a refine
                # slot — the SQL oracle filters self first) and the prune
                # is an (adc, id) lexsort so exact-ADC ties at the
                # boundary resolve by neighbor id like the oracle's
                # ORDER BY dist, nid, not by batch layout
                for row, qi in enumerate(qlist):
                    mask = ids_c != qids[qi]
                    ids_q = ids_c[mask]
                    d_q = dist[row][mask]
                    top = min(refine, len(d_q))
                    keep = np.lexsort((ids_q, d_q))[:top]
                    q_chunks.setdefault(qi, []).append((ids_q[keep], d_q[keep]))
            qix_out, ids_out, adc_out = [], [], []
            for qi, chunks in q_chunks.items():
                ids_q = np.concatenate([c[0] for c in chunks])
                adc_q = np.concatenate([c[1] for c in chunks])
                if len(adc_q) > refine:  # partition-local partial top-k
                    keep = np.lexsort((ids_q, adc_q))[:refine]
                    ids_q, adc_q = ids_q[keep], adc_q[keep]
                qix_out.append(np.full(len(ids_q), qi, dtype=np.int64))
                ids_out.append(ids_q)
                adc_out.append(adc_q)
            if qix_out:
                yield pd.DataFrame(
                    {
                        "query_ix": np.concatenate(qix_out),
                        "neighbor_id": np.concatenate(ids_out),
                        "adc": np.concatenate(adc_out),
                    }
                )

    cand = cand_rows.select(
        F.col(id_col), "cell", "codes"
    ).mapInPandas(score, schema=out_schema)
    # global top-``refine`` per query by (adc, neighbor_id)
    w = Window.partitionBy("query_ix").orderBy(F.col("adc").asc(), F.col("neighbor_id").asc())
    top_r = cand.withColumn("__r", F.row_number().over(w)).where(F.col("__r") <= refine)

    spark = index_df.sparkSession
    id_type = index_df.schema[id_col].dataType.simpleString()
    qmap = spark.createDataFrame(
        list(enumerate(qids)), f"query_ix long, query_id {id_type}"
    )
    top_r = top_r.join(F.broadcast(qmap), "query_ix")
    vecs = full_vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    )
    # query vectors come from the caller-supplied queries frame (already
    # collected above) — NOT from full_vectors, so external queries whose id
    # is absent from the corpus still rerank correctly
    qvecs = spark.createDataFrame(
        list(zip(qids, Qraw)),
        f"query_id {id_type}, __q {queries.schema[vec_col].dataType.simpleString()}",
    )
    scored = (
        top_r.join(vecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "cosine",
            _dot(F.col("__v"), F.col("__q")) / (_norm(F.col("__v")) * _norm(F.col("__q"))),
        )
    )
    return _top_k_by_cosine(scored, k)


def ivfpq_dup_pairs(
    df: DataFrame,
    centroids: list,
    codebooks: list,
    sdc_threshold: float,
    cos_threshold: float,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 2048,
) -> DataFrame:
    """Corpus-vs-corpus embedding near-dup pairs THROUGH the compressed
    codes — the actual 100 TB dedup shape, where "queries = the whole
    corpus" and no side can be collected to the driver (``ivfpq_topk``
    collects its small query set; ``cosine_dup_pairs``
    self-joins FULL vectors via sign-LSH). Here the self-join runs over
    the m-byte PQ codes grouped by IVF cell:

      index (mapInPandas, one Arrow pass, ``n_assign``-way cell
      replication for Voronoi-boundary recall) → groupBy(cell) →
      per-cell symmetric-distance kernel: SDC(a,b) = Σ_j
      T[j, code_a[j], code_b[j]] with T the m×k×k pairwise sub-codeword
      distance table built ONCE from the broadcast codebooks (driver-tiny,
      shipped in the task closure) → pairs with SDC ≤ sdc_threshold →
      groupBy-min dedup of multi-assigned pairs → exact cosine rerank on
      full vectors joined BY ID → ``cosine ≥ cos_threshold``.

    Scale shape: the only wide edges are the cell repartition of
    (id, m-byte codes) rows, the pair dedup, and the id-keyed rerank
    joins — full vectors never cross a shuffle except for the final
    surviving candidates. Per-cell work is O(n_c²·m) on uint8 codes in
    row blocks of ``block`` (memory O(block·n_c)); at 10^9 vectors size
    ``nlist`` ≈ √N so cells stay ~√N and the quadratic term stays flat
    per cell.

    Cites the FAISS IVFADC construction (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011, §V) — SDC
    variant, self-join form. Reference engine has no ANN surface; this
    extends the engine's LLM-pipeline dedup family."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    # T[j][a][b] = |a|² + |b|² − 2 a·b, the same algebraic form the SQL
    # oracle sums, to keep float paths aligned at the threshold boundary
    lut = np.stack(
        [
            (bk**2).sum(axis=1)[:, None]
            + (bk**2).sum(axis=1)[None, :]
            - 2.0 * (bk @ bk.T)
            for bk in books
        ]
    )  # (m, k, k)

    idx = ivfpq_index(
        df, centroids, codebooks, id_col=id_col, vec_col=vec_col, n_assign=n_assign
    )

    id_type = df.schema[id_col].dataType
    pair_schema = StructType(
        [
            StructField("id_a", id_type, False),
            StructField("id_b", id_type, False),
            StructField("sdc", DoubleType(), False),
        ]
    )

    def cell_pairs(key, pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sdc": []})
        ids = pdf[id_col].to_numpy()
        codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
        order = np.argsort(ids, kind="stable")  # id_a < id_b determinism
        ids, codes = ids[order], codes[order]
        out_a, out_b, out_d = [], [], []
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            D = lut[0][codes[lo:hi, 0][:, None], codes[:, 0][None, :]]
            for j in range(1, m):
                D = D + lut[j][codes[lo:hi, j][:, None], codes[:, j][None, :]]
            rows, cols = np.nonzero(D <= sdc_threshold)
            keep = (rows + lo) < cols  # strict upper triangle, global ids
            rows, cols = rows[keep], cols[keep]
            if len(rows):
                out_a.append(ids[rows + lo])
                out_b.append(ids[cols])
                out_d.append(D[rows, cols])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "sdc": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sdc": np.concatenate(out_d),
            }
        )

    # pin parallelism to the cell count: the grouped stage is CPU-heavy
    # per row but byte-tiny, and AQE would otherwise coalesce it onto a
    # fraction of the cores (the round-3 coalescing trap)
    ncells = len(centroids)
    cand = (
        idx.repartition(ncells, "cell")
        .groupBy("cell")
        .applyInPandas(cell_pairs, schema=pair_schema)
        # multi-assigned pairs co-occur in up to n_assign shared cells:
        # dedup on the pair key (the SDC is the same in every cell)
        .groupBy("id_a", "id_b")
        .agg(F.min("sdc").alias("sdc"))
    )

    scored = _cosine_rerank(cand.select("id_a", "id_b"), df, id_col, vec_col)
    return scored.where(F.col("cosine") >= cos_threshold).select(
        "id_a", "id_b", "cosine"
    )


def pq_codebooks_hash(dim: int, m: int = 8, k: int = 16) -> list:
    """md5-derived PQ sub-codebooks (no training pass) — component
    (j, c, d) is md5_60(f"pq|{j}|{c}|{d}")/2^59 − 1 with d the GLOBAL
    dimension index, so any SQL engine regenerates the identical codebook
    (the ivf_centroids recipe). Use ``train_pq_codebooks`` for production
    recall; this one exists for replayable correctness gates."""
    import hashlib

    sd = dim // m
    return [
        [
            [
                int(
                    hashlib.md5(f"pq|{j}|{c}|{j * sd + d}".encode()).hexdigest()[:15],
                    16,
                )
                / 2.0**59
                - 1.0
                for d in range(sd)
            ]
            for c in range(k)
        ]
        for j in range(m)
    ]
