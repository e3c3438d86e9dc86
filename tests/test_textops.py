"""Training-data operators: dedup, ANN, quality, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark.textops import ann, dedup, multimodal, quality

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB).cache()


def test_exact_dedup_counts(spark, docs):
    out = dedup.exact_dedup(docs).toPandas()
    assert out["dup_cnt"].sum() == docs.count()
    dup_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b", "a b", "c"]})
    )
    out2 = dedup.exact_dedup(dup_df).orderBy("keep_id").toPandas()
    assert out2["keep_id"].tolist() == [1, 3]
    assert out2["dup_cnt"].tolist() == [2, 1]


def test_jaccard_pairs_known(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["red green blue", "red green yellow", "purple orange pink"],
            }
        )
    )
    # max_doc_freq=None: on a 3-doc corpus every shared token is "hot"
    out = dedup.jaccard_pairs(df, threshold=0.4, max_doc_freq=None).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["id_a"], r["id_b"]) == (1, 2) and abs(r["jaccard"] - 0.5) < 1e-12


def test_jaccard_skew_guard_bounds_hot_token_join(spark):
    # adversarial corpus: every doc shares the token "the"; without the
    # default stopword cut the token join is all-pairs (n*(n-1)/2 = 4950)
    n = 100
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(n),
                "text": [f"the unique{i}a unique{i}b unique{i}c" for i in range(n)],
            }
        )
    )
    out = dedup.jaccard_pairs(df, threshold=0.01).toPandas()
    # guard ON by default: "the" dropped -> zero candidate pairs survive
    assert len(out) == 0
    unguarded = dedup.jaccard_pairs(df, threshold=0.01, max_doc_freq=None).toPandas()
    assert len(unguarded) == n * (n - 1) / 2


def test_ivf_topk_partitions_and_recalls(spark, emb):
    """IVF: every vector lands in exactly one cell; probing more cells
    approaches the exact top-k (nprobe=nlist == brute force)."""
    queries = emb.where(F.col("vec_id") < 3)
    exact = ann.cosine_topk(emb, queries, k=5).toPandas()
    full = ann.ivf_topk(emb, queries, k=5, nlist=8, nprobe=8, dim=64).toPandas()
    # probing ALL cells must reproduce the exact ranking
    key = ["query_id", "rank"]
    assert (
        full.sort_values(key)["neighbor_id"].tolist()
        == exact.sort_values(key)["neighbor_id"].tolist()
    )
    some = ann.ivf_topk(emb, queries, k=5, nlist=8, nprobe=3, dim=64).toPandas()
    hits = len(
        set(map(tuple, some[["query_id", "neighbor_id"]].values))
        & set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    )
    assert hits >= 5  # partial-probe recall is imperfect but non-trivial


def test_trained_ivf_codebook_on_clustered_data(spark):
    """On clustered data a trained codebook recovers the clusters: probing
    ONE cell per query reaches near-perfect recall (hash centroids split
    clusters arbitrarily and can't guarantee that)."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (8, 64)) * 5
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + rng.normal(0, 0.05, 64)
        rows.append((i, [float(x) for x in v]))
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))]
    )
    df = spark.createDataFrame(rows, schema)
    trained = ann.train_ivf_centroids(df, nlist=8, sample_n=400, iters=10)
    assert len(trained) == 8 and len(trained[0]) == 64
    queries = df.where(F.col("vec_id") < 8)
    exact = set(
        map(tuple, ann.cosine_topk(df, queries, k=5).toPandas()[
            ["query_id", "neighbor_id"]
        ].values)
    )
    got = ann.ivf_topk(
        df, queries, k=5, nlist=8, nprobe=1, dim=64, centroids=trained
    ).toPandas()
    hits = len(set(map(tuple, got[["query_id", "neighbor_id"]].values)) & exact)
    assert hits >= 0.95 * len(exact), (hits, len(exact))
    # determinism: same seed -> same codebook
    again = ann.train_ivf_centroids(df, nlist=8, sample_n=400, iters=10)
    np.testing.assert_allclose(trained, again)


def test_jaccard_char_ngrams(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["abcdefgh", "abcdefgx", "zzzzyyyy"],
            }
        )
    )
    out = dedup.jaccard_pairs(
        df, threshold=0.3, tokenizer=("char", 3), max_doc_freq=None
    ).toPandas()
    # docs 1,2: grams {abc..fgh} vs {abc..fgx}: 5 common of 7 -> J = 5/7
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert abs(r["jaccard"] - 5 / 7) < 1e-12


def test_cosine_dup_pairs_finds_planted_near_dup(spark, emb):
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    base = emb.limit(50).toPandas()
    vecs = [np.array(v, dtype=np.float32) for v in base["embedding"]]
    # plant an exact near-dup of vector 0 (tiny perturbation)
    dup = vecs[0] + np.float32(0.001)
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(base["vec_id"], vecs)]
    rows.append((10_000, [float(x) for x in dup]))
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out = ann.cosine_dup_pairs(df, threshold=0.99, n_planes=6, n_tables=6, dim=64).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].values))
    assert (int(base["vec_id"].iloc[0]), 10_000) in pairs
    # nothing else in random embeddings is a 0.99-cosine near-dup
    assert len(pairs) == 1


def test_minhash_finds_near_dups(spark):
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again today",
        2: "the quick brown fox jumps over the lazy dog again and again tomorrow",
        3: "completely different content about spark window aggregation physics",
    }
    df = spark.createDataFrame(pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    sig = dedup.minhash_signatures(df, num_perm=32)
    cands = dedup.minhash_candidates(sig, bands=8).toPandas()
    pairs = set(map(tuple, cands[["id_a", "id_b"]].values))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


@pytest.mark.parametrize("num_perm,bands", [(10, 3), (32, 6), (7, 4), (32, 8)])
def test_banding_covers_every_position(spark, num_perm, bands):
    """Perturbing ANY single signature position must change exactly one
    band's bucket — i.e. no position is silently dropped from banding
    (the old equal-slice code dropped the tail when bands ∤ num_perm)."""
    base = list(range(100, 100 + num_perm))
    rows = [(0, base)] + [
        (p + 1, base[:p] + [999999] + base[p + 1 :]) for p in range(num_perm)
    ]
    sig_df = spark.createDataFrame(rows, "id long, signature array<long>")
    bb = dedup.banded_buckets(sig_df, bands=bands).toPandas()
    ref = bb[bb["id"] == 0].set_index("band")["bucket"]
    for p in range(num_perm):
        pert = bb[bb["id"] == p + 1].set_index("band")["bucket"]
        assert (pert != ref).sum() == 1, f"position {p} not covered by exactly one band"


def test_md5_60_matches_duckdb(spark):
    """The portable hash used by the md5 oracle path must agree with DuckDB."""
    import duckdb

    vals = ["hello", "", "a|0", "ümlaut", "的"]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    got = dict(
        df.select("x", dedup.md5_60(F.col("x")).alias("h")).toPandas().values
    )
    con = duckdb.connect()
    for v in vals:
        (exp,) = con.execute(
            "SELECT CAST(('0x' || substr(md5(?),1,15)) AS BIGINT)", [v]
        ).fetchone()
        assert got[v] == exp, v


def test_simhash_near_dups(spark):
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        3: "one two three four five six seven eight nine ten",
    }
    df = spark.createDataFrame(pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    sig = dedup.simhash(df)
    got = sig.toPandas().set_index("id")["simhash"]
    d12 = bin(got[1] ^ got[2]).count("1")
    d13 = bin(got[1] ^ got[3]).count("1")
    assert d12 < d13
    cands = dedup.simhash_candidates(sig, max_hamming=max(d12, 3)).toPandas()
    assert {(1, 2)} <= set(map(tuple, cands[["id_a", "id_b"]].values))


def test_simhash_matches_reference_signature(spark):
    """The 60-bit md5_60 signature equals a plain-Python rebuild from each
    doc's distinct lower-cased words, hashed with ``hashlib`` (first 15
    hex digits of md5): bit j is set iff 2·c_j > n (c_j words with bit j
    set, of n), and a doc with no words signs 0. Pins bit 59 (the top
    bit) and the fold order."""
    import hashlib

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "Alpha  alpha BETA beta gamma",
        "one two three four five six seven eight nine ten eleven",
        "solo",
        "",
        "   ",
        None,
    ] + [" ".join(f"w{(i * 7 + k) % 50}" for k in range(3 + i % 9)) for i in range(40)]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    words = df.select(
        "doc_id",
        F.explode(F.array_distinct(F.array_remove(F.split(F.lower("text"), r"\s+"), ""))).alias("w"),
    )
    hashes = {}
    for r in words.collect():
        h = int(hashlib.md5(r["w"].encode()).hexdigest()[:15], 16)
        hashes.setdefault(r["doc_id"], []).append(h)
    expect = {}
    for i in range(len(texts)):
        hs = hashes.get(i, [])
        sig = 0
        for j in range(60):
            if 2 * sum((h >> j) & 1 for h in hs) > len(hs):
                sig |= 1 << j
        expect[i] = sig
    got = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert got == expect
    assert expect[4] == expect[5] == expect[6] == 0
    assert any(v >= 2**59 for v in expect.values())  # bit 59 is reached


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    got = ann.cosine_topk(emb, queries, k=5).toPandas()
    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].map(np.asarray))
    ids = pdf["vec_id"].to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for q in range(3):
        qi = np.flatnonzero(ids == q)[0]
        sims = Mn @ Mn[qi]
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))[:5]
        exp = ids[order].tolist()
        mine = got[got.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert mine == exp, q


def test_lsh_topk_recall(spark, emb):
    queries = emb.where(F.col("vec_id") < 5)
    exact = ann.cosine_topk(emb, queries, k=5).toPandas()
    approx = ann.lsh_topk(emb, queries, k=5, n_planes=4, n_tables=8).toPandas()
    recall = 0.0
    for q in range(5):
        e = set(exact[exact.query_id == q]["neighbor_id"])
        a = set(approx[approx.query_id == q]["neighbor_id"])
        recall += len(e & a) / len(e)
    assert recall / 5 >= 0.5  # approximate, but far above chance (5/499)


def test_text_stats_and_quality(spark, docs):
    prof = quality.text_profile(docs).toPandas()
    assert (prof["n_words"] > 0).all()
    assert (prof["n_distinct_words"] <= prof["n_words"]).all()
    assert prof["quality"].between(0, 1).all()


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the cat and the dog sat in the house for a while",
                    "el perro y la casa de que los gatos en la calle",
                    "le chat et le chien dans les maisons des villes pour",
                ],
            }
        )
    )
    got = quality.lang_id(df).orderBy("id").toPandas()["lang_pred"].tolist()
    assert got == ["en", "es", "fr"]


def test_token_count_and_fingerprint(spark, docs):
    tc = quality.text_profile(docs).toPandas()
    assert (tc["ws_tokens"] > 0).all() and (tc["bpe_est_tokens"] > 0).all()
    fp1 = quality.fingerprint(docs).toPandas()
    fp2 = quality.fingerprint(docs).toPandas()
    pd.testing.assert_frame_equal(
        fp1.sort_values("id").reset_index(drop=True),
        fp2.sort_values("id").reset_index(drop=True),
    )


def test_multimodal_plumbing(spark):
    schema = "media_id string, media binary, kind string, duration_ms int"
    rows = [
        (f"m{i}", _ppm_bytes(3 + i % 5, 2 + i % 3, [(i * 37 + k) % 256 for k in range(
            3 * (3 + i % 5) * (2 + i % 3))]), "image", 3000 + i)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, schema)
    feats = multimodal.extract_features(df).toPandas()
    assert len(feats) == 20
    assert all(len(f) == multimodal.FEATURE_DIM for f in feats["features"])
    # determinism: same payload → same features
    feats2 = multimodal.extract_features(df.repartition(3)).toPandas()
    a = feats.sort_values("media_id").reset_index(drop=True)
    b = feats2.sort_values("media_id").reset_index(drop=True)
    for x, y in zip(a["features"], b["features"]):
        np.testing.assert_array_equal(x, y)
    # a payload no lib-free codec recognises raises
    junk = spark.createDataFrame([("j", bytes([7] * 100), "image", 0)], schema)
    with pytest.raises(Exception):
        multimodal.extract_features(junk).toPandas()


def _ppm_bytes(w, h, rgb):
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + bytes(rgb)


def _bmp_bytes(w, h, rows_rgb):
    """Minimal 24-bit BI_RGB BMP, bottom-up rows, 4-byte padded."""
    import struct

    stride = (w * 3 + 3) & ~3
    raster = b""
    for r in reversed(rows_rgb):  # bottom-up
        row = b"".join(bytes([b, g, rr]) for rr, g, b in r)  # BGR on disk
        raster += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(raster), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    return header + dib + raster


def _wav_bytes(freq=1000.0, rate=8000, n=4096):
    import io
    import wave

    t = np.arange(n) / rate
    x = (np.sin(2 * np.pi * freq * t) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(x.tobytes())
    return buf.getvalue()


def _tone_band(freq, rate, n):
    """Which of the FEATURE_DIM np.array_split bands holds rfft bin of freq."""
    rbin = round(freq * n / rate)
    sizes = [len(c) for c in np.array_split(np.zeros(n // 2 + 1), multimodal.FEATURE_DIM)]
    edges = np.cumsum(sizes)
    return int(np.searchsorted(edges, rbin, side="right"))


def test_real_codecs_decode_libfree_formats():
    # PPM: 2x2 image, distinct corner colors, round-trips exactly
    rgb = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    img = multimodal.decode_ppm(_ppm_bytes(2, 2, rgb))
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [255, 0, 0] and img[1, 1].tolist() == [255, 255, 255]
    # BMP: same pixels through the bottom-up BGR padded format
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    bmp = multimodal.decode_bmp(_bmp_bytes(2, 2, rows))
    np.testing.assert_array_equal(bmp, np.array(rows, dtype=np.uint8))
    # WAV: a 1 kHz tone's spectral energy concentrates in the right band
    x, rate = multimodal.decode_wav(_wav_bytes())
    assert rate == 8000 and len(x) == 4096 and np.abs(x).max() < 1.0
    feats = multimodal.audio_features(x, rate)
    assert int(np.argmax(feats)) == _tone_band(1000.0, rate, len(x))


def test_real_decode_through_spark(spark):
    white = _ppm_bytes(4, 4, [255] * 48)
    black = _ppm_bytes(4, 4, [0] * 48)
    rows = [
        ("white", white, "image", 0),
        ("black", black, "image", 0),
        ("tone", _wav_bytes(), "audio", 512),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, media binary, kind string, duration_ms int"
    )
    feats = (
        multimodal.extract_features(df)
        .toPandas()
        .set_index("media_id")["features"]
    )
    assert all(len(v) == multimodal.FEATURE_DIM for v in feats)
    assert np.allclose(feats["white"], 1.0) and np.allclose(feats["black"], 0.0)
    assert int(np.argmax(feats["tone"])) == _tone_band(1000.0, 8000, 4096)


def test_dup_components_keep_list(spark):
    """Chains, triangles, and disjoint pairs all collapse to min-id
    components with exactly one keep per component."""
    import pandas as pd

    from pyhydroqc_spark.textops import dedup

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
                "id_a": [1, 2, 3, 10, 10, 11, 20],
                "id_b": [2, 3, 4, 11, 12, 12, 21],
            }
        )
    )
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in dedup.dup_components(pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False), 12: (10, False),
        20: (20, True), 21: (20, False),
    }


def test_dup_components_pointer_doubling_long_chain(spark):
    """A 60-node chain (diameter 59) converges well inside max_iter=10:
    pointer doubling gives O(log diameter) rounds where pure min-label
    propagation would need 59 and previously returned a silently partial
    merge."""
    import pandas as pd

    from pyhydroqc_spark.textops import dedup

    n = 60
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(1, n)), "id_b": list(range(2, n + 1))})
    )
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in dedup.dup_components(
            pairs, max_iter=10, local_threshold=0
        ).collect()
    }
    assert got == {i: (1, i == 1) for i in range(1, n + 1)}


def test_dup_components_nonconvergence_raises(spark):
    """Exhausting max_iter without convergence raises instead of silently
    returning a partial merge (no-silent-caps)."""
    import pandas as pd
    import pytest as _pytest

    from pyhydroqc_spark.textops import dedup

    n = 40
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(1, n)), "id_b": list(range(2, n + 1))})
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_components(pairs, max_iter=1, local_threshold=0).collect()


def test_dup_components_local_matches_iterative(spark):
    """The size-adaptive driver-side union-find fast path is output-
    identical to the distributed label-propagation loop on a mixed graph
    (chains, cliques, self-dups, singleton-free)."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import dedup

    rng = np.random.default_rng(11)
    a = rng.integers(0, 200, size=400)
    b = rng.integers(0, 200, size=400)
    keep = a != b
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})
    ).localCheckpoint(eager=True)
    local = {
        (r["doc_id"], r["component"], r["keep"])
        for r in dedup.dup_components(pairs).collect()
    }
    dist = {
        (r["doc_id"], r["component"], r["keep"])
        for r in dedup.dup_components(pairs, local_threshold=0).collect()
    }
    assert local == dist and len(local) > 0


def test_dup_components_corpus_full_keep_list(spark):
    """corpus= yields singletons (absent from any pair) as their own
    keep=true components."""
    import pandas as pd

    from pyhydroqc_spark.textops import dedup

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 10], "id_b": [2, 11]})
    )
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 10, 11, 50, 51]})
    )
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in dedup.dup_components(pairs, corpus=corpus).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 10: (10, True), 11: (10, False),
        50: (50, True), 51: (51, True),
    }


def test_dup_components_edges_computed_once(spark):
    """The pairs-subtree must execute exactly once regardless of
    propagation rounds: edges is persisted before the loop, so round k
    never replays the (potentially very expensive) upstream pair
    generation. Counted with an accumulator inside the pairs lineage."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pyhydroqc_spark.textops import dedup

    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    bump_udf = F.udf(bump, LongType())
    n = 32  # chain: needs several propagation rounds
    base = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(1, n)), "id_b": list(range(2, n + 1))})
    )
    pairs = base.withColumn("id_a", bump_udf("id_a"))
    out = dedup.dup_components(pairs, max_iter=10)
    assert out.where(~F.col("keep")).count() == n - 1
    # the UDF ran once per input row during the single edges materialization
    # (the union makes the lineage scan pairs twice before distinct) — but
    # NOT once per round
    assert acc.value <= 2 * (n - 1)


def test_simhash_hot_bucket_split_preserves_recall(spark):
    """Forcing every bucket through the multi-index hot path (bucket_cap=2)
    must return exactly the same pairs as direct enumeration
    (bucket_cap=10^9): pigeonhole on the 4×12-bit sub-blocks of the
    remaining 48 bits keeps recall for hamming<=3, and the exact recheck
    keeps precision."""
    import pandas as pd

    from pyhydroqc_spark.textops import dedup

    # clustered corpus: 8 groups of near-identical docs + noise docs
    rows = []
    for g in range(8):
        base = [f"tok{g}_{k}" for k in range(30)]
        for m in range(6):
            words = list(base)
            if m:
                words[m] = f"alt{g}_{m}"  # one-word edits → small hamming
            rows.append((g * 10 + m, " ".join(words)))
    for i in range(100):
        rows.append((1000 + i, " ".join(f"noise{i}_{k}" for k in range(25))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sig = dedup.simhash(df)

    direct = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_candidates(sig, 3, bucket_cap=10**9).collect()
    }
    split = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_candidates(sig, 3, bucket_cap=2).collect()
    }
    assert split == direct
    assert direct  # the planted clusters must actually produce pairs


def test_trained_ivf_recall_beats_hash_and_floor(spark, monkeypatch):
    """Data-adaptive (k-means-trained) IVF cells must beat the hash
    codebook on clustered embeddings and clear an absolute recall floor;
    train_ivf_centroids must honor its bounded-sample contract (no more
    than sample_n vectors ever reach the driver)."""
    import numpy as np
    import pandas as pd
    # Spark 4: pyspark.sql.DataFrame is the ABC; instances are classic
    from pyspark.sql.classic.dataframe import DataFrame

    from pyhydroqc_spark.textops import ann

    rng = np.random.default_rng(11)
    dim, n_clusters, per = 16, 24, 80
    means = rng.normal(0, 1.0, (n_clusters, dim))
    X = np.repeat(means, per, axis=0) + rng.normal(0, 0.15, (n_clusters * per, dim))
    pdf = pd.DataFrame({"vec_id": np.arange(len(X)), "embedding": list(map(list, X))})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") % 97 == 0)

    # bounded-sample contract: spy on driver transfers during training
    transfers = []
    orig = DataFrame.toPandas

    def spy(self):
        out = orig(self)
        transfers.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "toPandas", spy)
    trained = ann.train_ivf_centroids(df, nlist=24, sample_n=400, seed=3)
    monkeypatch.setattr(DataFrame, "toPandas", orig)
    assert transfers and max(transfers) <= 400
    assert len(trained) == 24

    def recall(centroids):
        exact = ann.cosine_topk(df, queries, k=10).toPandas()
        # nprobe=1 is the discriminative setting: trained cells align with
        # the true clusters (each query's neighbors live in its one probed
        # cell) while hash cells slice clusters arbitrarily
        approx = ann.ivf_topk(
            df, queries, k=10, nlist=24, nprobe=1, centroids=centroids
        ).toPandas()
        e = exact.groupby("query_id")["neighbor_id"].apply(set)
        a = approx.groupby("query_id")["neighbor_id"].apply(set)
        hits = sum(len(e[qid] & a.get(qid, set())) for qid in e.index)
        return hits / (10 * len(e))

    r_hash = recall(ann.ivf_centroids(dim, 24))
    r_trained = recall(trained)
    assert r_trained >= 0.9, r_trained  # clustered data: trained cells are tight
    assert r_trained > r_hash, (r_trained, r_hash)


def test_png_roundtrip_and_filters():
    """decode_png(encode_png(img)) == img; each of the five scanline
    filters reconstructs exactly (filtered rasters crafted by applying the
    forward filter per spec); gray / palette / alpha color types map to
    RGB correctly. Pure stdlib zlib + numpy — no PIL in the container."""
    import struct
    import zlib

    import numpy as np

    from pyhydroqc_spark.textops import multimodal as mm

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    np.testing.assert_array_equal(mm.decode_png(mm.encode_png(img)), img)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def build(w, h, ctype, ch, raster, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            mm.PNG_SIG + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b"")
        )

    # forward-filter a known RGB image with every filter type per row
    h, w, ch = 7, 9, 3
    base = rng.integers(0, 256, (h, w * ch), dtype=np.uint8).astype(np.int64)
    lines = []
    for y in range(h):
        f = y % 5
        cur = base[y]
        prev = base[y - 1] if y else np.zeros(w * ch, dtype=np.int64)
        filt = np.zeros(w * ch, dtype=np.int64)
        for i in range(w * ch):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[i] = (cur[i] - pred) % 256
        lines.append(bytes([f]) + bytes(filt.astype(np.uint8)))
    payload = build(w, h, 2, 3, b"".join(lines))
    np.testing.assert_array_equal(
        mm.decode_png(payload), base.astype(np.uint8).reshape(h, w, ch)
    )

    # gray (type 0) → replicated channels
    g = rng.integers(0, 256, (4, 5), dtype=np.uint8)
    raster = b"".join(b"\x00" + r.tobytes() for r in g)
    got = mm.decode_png(build(5, 4, 0, 1, raster))
    np.testing.assert_array_equal(got, np.repeat(g[..., None], 3, axis=2))

    # palette (type 3) → PLTE lookup
    plte = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, (3, 6), dtype=np.uint8)
    raster = b"".join(b"\x00" + r.tobytes() for r in idx)
    got = mm.decode_png(
        build(6, 3, 3, 1, raster, extra=chunk(b"PLTE", plte.tobytes()))
    )
    np.testing.assert_array_equal(got, plte[idx])

    # RGBA (type 6) → alpha dropped
    rgba = rng.integers(0, 256, (3, 4, 4), dtype=np.uint8)
    raster = b"".join(b"\x00" + r.tobytes() for r in rgba.reshape(3, 16))
    got = mm.decode_png(build(4, 3, 6, 4, raster))
    np.testing.assert_array_equal(got, rgba[..., :3])


def test_png_features_through_spark_kernel(spark):
    """PNG payloads flow through the real mapInPandas decode kernel
    alongside PPM/BMP — same features for the same pixels regardless of
    container format."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import multimodal as mm

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    rows = [
        ("png", mm.encode_png(img), "image"),
        ("ppm", mm.encode_ppm(img), "image"),
        ("bmp", mm.encode_bmp(img), "image"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "media", "kind"])
    )
    feats = (
        mm.extract_features(df)
        .toPandas().set_index("media_id")["features"]
    )
    np.testing.assert_allclose(feats["png"], feats["ppm"], atol=1e-6)
    np.testing.assert_allclose(feats["png"], feats["bmp"], atol=1e-6)


def test_avi_roundtrip_and_video_features(spark):
    """Uncompressed AVI: frames roundtrip exactly; video features = mean
    of sampled per-frame image features (a constant-color clip's features
    equal that color's image features); compressed streams raise for the
    ffmpeg seam; the Spark kernel decodes video payloads alongside the
    other modalities."""
    import struct

    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import multimodal as mm

    rng = np.random.default_rng(4)
    frames = rng.integers(0, 256, (5, 12, 17, 3), dtype=np.uint8)
    payload = mm.encode_avi(frames, fps=10)
    dec, fps = mm.decode_avi(payload)
    np.testing.assert_array_equal(dec, frames)
    assert fps == 10.0

    const = np.full((4, 16, 16, 3), 200, dtype=np.uint8)
    np.testing.assert_allclose(
        mm.video_features(const), mm.image_features(const[0]), atol=1e-6
    )

    # a '00dc' (compressed) stream chunk must raise
    bad = bytearray(payload)
    i = bad.find(b"00db")
    bad[i : i + 4] = b"00dc"
    with pytest.raises(ValueError, match="compressed AVI"):
        mm.decode_avi(bytes(bad))

    df = spark.createDataFrame(
        pd.DataFrame(
            [("clip", payload, "video"), ("img", mm.encode_png(frames[0]), "image")],
            columns=["media_id", "media", "kind"],
        )
    )
    feats = (
        mm.extract_features(df)
        .toPandas().set_index("media_id")["features"]
    )
    assert all(len(v) == mm.FEATURE_DIM for v in feats)


def test_avi_mjpg_frames_decode_via_jpeg_codec():
    """codec='MJPG' writes one real baseline JPEG per '00dc' chunk; the
    decoder routes frames through textops/jpeg.py. Smooth frames come back
    within JPEG quantization error; header dim mismatch raises."""
    import numpy as np
    import pytest

    from pyhydroqc_spark.textops import multimodal as mm

    yy, xx = np.meshgrid(np.arange(16), np.arange(24), indexing="ij")
    frames = np.stack(
        [
            np.stack(
                [
                    (128 + 60 * np.sin(yy / 5 + t)).astype(np.uint8),
                    (128 + 60 * np.cos(xx / 7 + t)).astype(np.uint8),
                    np.full((16, 24), 90 + 10 * t, dtype=np.uint8),
                ],
                axis=-1,
            )
            for t in range(4)
        ]
    )
    payload = mm.encode_avi(frames, fps=12, codec="MJPG")
    dec, fps = mm.decode_avi(payload)
    assert abs(fps - 12.0) < 0.01 and dec.shape == frames.shape  # 1e6//12 rounds
    err = np.abs(dec.astype(int) - frames.astype(int))
    assert err.max() <= 12 and err.mean() < 3

    # features flow through the same video path as raw-DIB clips
    f_mjpg = mm.video_features(dec)
    f_raw = mm.video_features(frames)
    np.testing.assert_allclose(f_mjpg, f_raw, atol=12 / 255)

    # frame dims must agree with the avih header
    bad = bytearray(payload)
    i = bad.find(b"avih")
    # avih width field: 8 dwords after the chunk body start
    import struct

    struct.pack_into("<I", bad, i + 8 + 32, 999)
    with pytest.raises(ValueError, match="disagree"):
        mm.decode_avi(bytes(bad))


def test_gif_roundtrip_real_lzw_and_interlace(spark):
    """GIF: (a) palette roundtrip via our encoder; (b) a PROPER LZW stream
    (dictionary growth + code-width bumps, compressed in-test per spec)
    decodes correctly; (c) interlaced frames deinterlace; (d) rejection
    paths; (e) features match PNG of the same pixels through the Spark
    kernel (both lossless)."""
    import struct

    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import gif
    from pyhydroqc_spark.textops import multimodal as mm

    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, (200, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 200, (23, 31))]
    np.testing.assert_array_equal(gif.decode_gif(gif.encode_gif(img)), img)

    # ---- proper LZW (what real encoders emit): repetitive indices force
    # dictionary growth across a width bump
    h, w = 16, 64
    idx = (np.arange(h * w) // 7 % 5).astype(np.uint8)  # runs -> dict use
    mcs = 8
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    codes = [clear]
    table = {bytes([i]): i for i in range(clear)}
    nxt = eoi + 1
    width_sched = []
    cur = b""
    for v in idx:
        cand = cur + bytes([int(v)])
        if cand in table:
            cur = cand
        else:
            codes.append(table[cur])
            table[cand] = nxt
            nxt += 1
            cur = bytes([int(v)])
    codes.append(table[cur])
    codes.append(eoi)
    # pack LSB-first with the standard width schedule
    out = bytearray()
    acc = n = 0
    width = mcs + 1
    size = eoi + 1
    for c in codes[:1]:
        acc |= c << n; n += width
        while n >= 8:
            out.append(acc & 0xFF); acc >>= 8; n -= 8
    for c in codes[1:]:
        acc |= c << n; n += width
        while n >= 8:
            out.append(acc & 0xFF); acc >>= 8; n -= 8
        if c != eoi:
            size += 1
            if size - 1 == (1 << width) and width < 12:
                width += 1
    if n:
        out.append(acc & 0xFF)

    gct = np.zeros((256, 3), dtype=np.uint8)
    gct[:5] = [[10, 0, 0], [0, 20, 0], [0, 0, 30], [40, 40, 0], [0, 50, 50]]
    payload = bytearray(b"GIF89a")
    payload += struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0) + gct.tobytes()
    payload += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    payload.append(mcs)
    for i in range(0, len(out), 255):
        blk = out[i : i + 255]
        payload.append(len(blk)); payload += blk
    payload += b"\x00\x3b"
    got = gif.decode_gif(bytes(payload))
    np.testing.assert_array_equal(got, gct[idx.reshape(h, w)])

    # ---- interlace: permute rows into pass order, set the flag
    ih = img.shape[0]
    rows = (
        list(range(0, ih, 8)) + list(range(4, ih, 8))
        + list(range(2, ih, 4)) + list(range(1, ih, 2))
    )
    inter = bytearray(gif.encode_gif(img[rows]))  # pre-permuted to pass order
    # image descriptor sits right after header(6) + LSD(7) + GCT
    gct_n = 2 << (inter[10] & 0x07)
    d2 = 13 + gct_n * 3
    assert inter[d2] == 0x2C
    inter[d2 + 9] |= 0x40  # interlace flag
    np.testing.assert_array_equal(gif.decode_gif(bytes(inter)), img)

    # ---- rejections
    with pytest.raises(ValueError, match="not a GIF"):
        gif.decode_gif(b"NOPE")
    with pytest.raises(ValueError, match="unique colors"):
        gif.encode_gif(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8))

    # ---- Spark kernel: GIF features == PNG features (both lossless)
    df = spark.createDataFrame(
        pd.DataFrame(
            [("gif", gif.encode_gif(img), "image"),
             ("png", mm.encode_png(img), "image")],
            columns=["media_id", "media", "kind"],
        )
    )
    feats = (
        mm.extract_features(df)
        .toPandas().set_index("media_id")["features"]
    )
    np.testing.assert_allclose(feats["gif"], feats["png"], atol=1e-6)


def test_pq_adc_topk_recall_and_memory_contract(spark, monkeypatch):
    """Product quantization, run as IVFADC with one cell (plain PQ/ADC):
    (a) codes are m small ints (the 10^9-vector memory lever); (b) ADC +
    exact rerank reaches a recall floor vs exact cosine top-k on
    clustered embeddings; (c) training honors the bounded-sample
    contract; (d) rerank cosines are EXACT for the neighbors it
    returns."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.classic.dataframe import DataFrame

    from pyhydroqc_spark.textops import ann

    rng = np.random.default_rng(13)
    dim, n_clusters, per = 16, 12, 60
    means = rng.normal(0, 1.0, (n_clusters, dim))
    X = np.repeat(means, per, axis=0) + rng.normal(0, 0.2, (n_clusters * per, dim))
    pdf = pd.DataFrame({"vec_id": np.arange(len(X)), "embedding": list(map(list, X))})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") % 71 == 0)

    transfers = []
    orig = DataFrame.toPandas

    def spy(self):
        out = orig(self)
        transfers.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "toPandas", spy)
    books = ann.train_pq_codebooks(df, m=4, k=32, sample_n=300, seed=5)
    monkeypatch.setattr(DataFrame, "toPandas", orig)
    assert transfers and max(transfers) <= 300
    assert len(books) == 4 and len(books[0][0]) == dim // 4

    cents = ann.ivf_centroids(dim, 1)
    idx = ann.ivfpq_index(df, cents, books)
    crow = idx.first()
    assert crow["cell"] == 0
    assert len(crow["codes"]) == 4 and all(0 <= c < 32 for c in crow["codes"])

    exact = ann.cosine_topk(df, queries, k=10).toPandas()
    truth = exact.groupby("query_id")["neighbor_id"].apply(set)

    got = ann.ivfpq_topk(
        idx, queries, cents, books, k=10, nprobe=1, refine=40, full_vectors=df
    ).toPandas()
    byq = got.groupby("query_id")["neighbor_id"].apply(set)
    hits = sum(len(truth[q] & byq.get(q, set())) for q in truth.index)
    recall = hits / (10 * len(truth))
    assert recall >= 0.85, recall

    # rerank cosines are exact: cross-check one (query, neighbor) pair
    r0 = got.iloc[0]
    qv = X[int(r0["query_id"])]
    nv = X[int(r0["neighbor_id"])]
    cos = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
    assert abs(cos - r0["cosine"]) < 1e-9


def test_pq_topk_external_queries(spark):
    """Query vectors come from the caller's ``queries`` frame — an id
    ABSENT from the corpus must still rerank and return k rows (joining
    full_vectors on query_id would silently drop such queries). Run as
    one-cell IVFADC (plain PQ/ADC)."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import ann

    rng = np.random.default_rng(7)
    X = rng.normal(0, 1, (200, 16))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(200), "embedding": list(map(list, X))}),
        "vec_id long, embedding array<double>",
    )
    books = ann.train_pq_codebooks(df, m=4, k=16, sample_n=200, seed=3)
    cents = ann.ivf_centroids(16, 1)
    idx = ann.ivfpq_index(df, cents, books)

    # external queries: corpus vector 5 under a foreign id, plus a novel one
    qX = [list(X[5]), list(X[5] * 0.5 + X[17] * 0.5)]
    queries = spark.createDataFrame(
        pd.DataFrame({"vec_id": [100005, 100006], "embedding": qX}),
        "vec_id long, embedding array<double>",
    )
    got = ann.ivfpq_topk(
        idx, queries, cents, books, k=5, nprobe=1, refine=40, full_vectors=df
    ).toPandas()
    byq = got.groupby("query_id").size().to_dict()
    assert byq == {100005: 5, 100006: 5}, byq
    # query 100005 IS corpus vector 5 → its top neighbor must be 5, cosine 1
    top = got[(got.query_id == 100005) & (got["rank"] == 1)].iloc[0]
    assert top["neighbor_id"] == 5 and abs(top["cosine"] - 1.0) < 1e-9


def test_ivfpq_topk_prunes_cells_and_keeps_recall(spark):
    """IVFADC (r5): (a) index rows carry (cell, m codes); (b) the scored
    candidate set only touches PROBED cells, not the whole corpus;
    (c) trained codebooks reach the recall of IVF-flat at the same nprobe
    (exact rerank recovers it); (d) every query returns exactly k rows."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import ann

    rng = np.random.default_rng(29)
    means = rng.normal(0, 1.0, (16, 32))
    X = np.repeat(means, 50, axis=0) + rng.normal(0, 0.15, (800, 32))
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(800), "embedding": list(map(list, X))}),
        "vec_id long, embedding array<double>",
    )
    dfn = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(800), "embedding": list(map(list, Xn))}),
        "vec_id long, embedding array<double>",
    )
    queries = df.where(F.col("vec_id") % 89 == 0)

    cents = ann.train_ivf_centroids(dfn, nlist=8, sample_n=800, seed=3)
    books = ann.train_pq_codebooks(df, m=4, k=32, sample_n=800, seed=3)
    idx = ann.ivfpq_index(df, cents, books)
    ipdf = idx.toPandas()
    assert set(ipdf.columns) == {"vec_id", "cell", "codes"}
    assert ipdf["codes"].map(len).eq(4).all()
    assert ipdf["cell"].between(0, 7).all()

    got = ann.ivfpq_topk(
        idx, queries, cents, books, k=10, nprobe=4, refine=60, full_vectors=df
    ).toPandas()
    assert got.groupby("query_id").size().eq(10).all()

    # recall vs exact must match IVF-flat at the same nprobe (same cells
    # probed, exact rerank over a generous refine recovers the same set)
    exact = ann.cosine_topk(df, queries, k=10).toPandas()
    truth = exact.groupby("query_id")["neighbor_id"].apply(set)
    byq = got.groupby("query_id")["neighbor_id"].apply(set)
    hits = sum(len(truth[q] & byq.get(q, set())) for q in truth.index)
    recall = hits / (10 * len(truth))
    assert recall >= 0.8, recall

    # pruning contract: with nprobe=1 each query's candidates all come
    # from ONE cell — neighbor cells of returned rows == the probed cell
    got1 = ann.ivfpq_topk(
        idx, queries, cents, books, k=5, nprobe=1, refine=20, full_vectors=df
    ).toPandas()
    cells = ipdf.set_index("vec_id")["cell"]
    C = np.asarray(cents, dtype=np.float64)
    qrows = queries.toPandas()
    for _, qr in qrows.iterrows():
        qv = np.asarray(qr["embedding"], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        probed = int(((C**2).sum(1) - 2 * (C @ qv)).argmin())
        neigh = got1[got1.query_id == qr["vec_id"]]["neighbor_id"]
        assert (cells.loc[neigh] == probed).all()


def test_ivfpq_index_partitioned_by_cell_prunes_scan(spark, tmp_path):
    """The production IVFADC layout: persist the index PARTITIONED BY cell,
    and the probed-cell filter becomes real partition pruning — the scan
    plan must carry a cell PartitionFilter and read only the probed
    directories. Results from the pruned on-disk index must equal the
    in-memory index bit for bit."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import ann

    rng = np.random.default_rng(31)
    X = rng.normal(0, 1, (400, 16))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(400), "embedding": list(map(list, X))}),
        "vec_id long, embedding array<double>",
    )
    cents = ann.ivf_centroids(16, 8)
    books = ann.pq_codebooks_hash(16, m=4, k=16)
    idx = ann.ivfpq_index(df, cents, books)
    out = str(tmp_path / "ivfpq_index")
    idx.write.partitionBy("cell").parquet(out)

    disk = spark.read.parquet(out)
    queries = df.where(F.col("vec_id") < 3)

    got_disk = ann.ivfpq_topk(
        disk, queries, cents, books, k=5, nprobe=2, refine=20, full_vectors=df
    )
    # the probed-cell filter must reach the scan as a PartitionFilter
    plan = got_disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200], plan[:2000]

    got_mem = ann.ivfpq_topk(
        idx, queries, cents, books, k=5, nprobe=2, refine=20, full_vectors=df
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    gd = got_disk.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        gd[["query_id", "neighbor_id", "rank"]],
        got_mem[["query_id", "neighbor_id", "rank"]],
    )


def test_ivfpq_dup_pairs_corpus_self_join_through_codes(spark):
    """Corpus-vs-corpus near-dup THROUGH the PQ codes (r6): planted
    near-identical twins must surface from the per-cell SDC kernel with
    (a) high recall under 2-way assignment, (b) every emitted pair
    genuinely above the cosine threshold, (c) output invariant to the
    kernel's row-block size (the chunking is a memory knob, not a
    semantics knob), (d) n_assign=2 recall ≥ n_assign=1 (Voronoi-boundary
    twins need the multi-assignment)."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import ann

    rng = np.random.default_rng(37)
    means = rng.normal(0, 1.0, (8, 32))
    X = np.repeat(means, 60, axis=0) + rng.normal(0, 0.25, (480, 32))
    ids = np.arange(480)
    twin_sel = ids % 6 == 0
    twins = X[twin_sel] + rng.normal(0, 0.015, (twin_sel.sum(), 32))
    corpus_X = np.vstack([X, twins])
    corpus_ids = np.concatenate([ids, ids[twin_sel] + 10_000])
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": corpus_ids, "embedding": list(map(list, corpus_X))}
        ),
        "vec_id long, embedding array<double>",
    )

    Xn = corpus_X / np.linalg.norm(corpus_X, axis=1, keepdims=True)
    C = Xn @ Xn.T
    iu = np.triu_indices(len(Xn), 1)
    truth = {
        (int(corpus_ids[iu[0][t]]), int(corpus_ids[iu[1][t]]))
        for t in np.flatnonzero(C[iu] >= 0.97)
    }
    truth = {(min(p), max(p)) for p in truth}
    assert len(truth) >= 60  # the planted twins are the dup population

    dfn = spark.createDataFrame(
        pd.DataFrame({"vec_id": corpus_ids, "embedding": list(map(list, Xn))}),
        "vec_id long, embedding array<double>",
    )
    cents = ann.train_ivf_centroids(dfn, nlist=8, sample_n=560, seed=5)
    books = ann.train_pq_codebooks(df, m=4, k=32, sample_n=560, seed=5)

    def run(n_assign, **kw):
        out = ann.ivfpq_dup_pairs(
            df, cents, books, sdc_threshold=0.5, cos_threshold=0.97,
            n_assign=n_assign, **kw,
        ).toPandas()
        return {(int(a), int(b)) for a, b in zip(out.id_a, out.id_b)}

    got2 = run(2)
    # (b) no false positives: the exact rerank guarantees cosine >= 0.97
    assert got2 <= truth
    # (a) recall through 4-byte codes
    recall = len(got2 & truth) / len(truth)
    assert recall >= 0.85, recall

    # (c) block-size invariance: tiny blocks force the chunked path
    assert run(2, block=7) == got2

    # (d) multi-assignment covers boundary twins
    got1 = run(1)
    assert len(got1 & truth) <= len(got2 & truth)


def test_ngram_perplexity_matches_hand_computation(spark):
    """Bigram add-one LM on a 2-doc corpus, hand-computed: V=3,
    P(a→b)=4/6, P(b→a)=P(b→c)=2/5; single-word docs get no row."""
    import math

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b a b", "a b c", "solo"]})
    )
    got = quality.ngram_perplexity(df).toPandas().set_index("id")["log2_ppl"]
    p_ab, p_ba = math.log2(4 / 6), math.log2(2 / 5)
    exp1 = -(2 * p_ab + p_ba) / 3
    exp2 = -(p_ab + p_ba) / 2
    assert abs(got.loc[1] - exp1) < 1e-9
    assert abs(got.loc[2] - exp2) < 1e-9
    # <2-word docs have no bigrams: kept with NULL score (left join on
    # the input ids), not silently dropped
    assert 3 in got.index and pd.isna(got.loc[3])
    # boilerplate scores LOWER (more predictable) than novel text
    assert got.loc[1] < got.loc[2]


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition family on planted docs: top2gram_frac = share of
    the modal bigram, dup5gram_frac = 1 − distinct/total 5-grams,
    dup_line_frac = share of repeated non-empty lines; short docs NULL."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "a b a b a b",        # bigrams: ab,ba,ab,ba,ab → top 3/5
                    "x y z x y z x y",    # 5grams: xyzxy,yzxyz,zxyzx,xyzxy → dup 1/4
                    "one two three",      # <5 words → dup5 NULL; top2 = 1/2
                    "ok",                 # <2 words → both NULL
                ],
            }
        )
    )
    top2 = quality.top_ngram_frac(df, n=2).toPandas().set_index("id")["top2gram_frac"]
    assert abs(top2.loc[1] - 3 / 5) < 1e-9
    assert abs(top2.loc[3] - 1 / 2) < 1e-9
    assert pd.isna(top2.loc[4])
    dup5 = quality.dup_ngram_frac(df, n=5).toPandas().set_index("id")["dup5gram_frac"]
    assert abs(dup5.loc[2] - 1 / 4) < 1e-9
    assert pd.isna(dup5.loc[3]) and pd.isna(dup5.loc[4])

    lines = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["hdr\nbody\nhdr\n\nhdr", "a\nb"],  # 3×hdr+body → 2/5 dup
            }
        )
    )
    prof = quality.text_profile(lines).toPandas().set_index("id")
    assert abs(prof.loc[1, "dup_line_frac"] - 2 / 4) < 1e-9  # 4 non-empty lines
    assert prof.loc[2, "dup_line_frac"] == 0.0


def test_ngram_contamination_flags_benchmark_overlap(spark):
    """13-gram decontamination: a doc sharing a verbatim 13-gram with the
    benchmark set is flagged with the right distinct-gram count; disjoint
    and short docs are clean; the benchmark join side is broadcast."""
    w = " ".join(f"w{i}" for i in range(20))          # 20 words → 8 13-grams
    overlap = " ".join(f"w{i}" for i in range(13)) + " zzz qqq"  # shares 1
    clean = " ".join(f"c{i}" for i in range(30))
    short = "tiny doc"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": [w, overlap, clean, short]})
    )
    bench = df.where(F.col("doc_id") == 1)
    got = (
        quality.ngram_contamination(df, bench, n=13)
        .toPandas().set_index("id").sort_index()
    )
    assert bool(got.loc[1, "contaminated"]) and got.loc[1, "n_shared_13grams"] == 8
    assert bool(got.loc[2, "contaminated"]) and got.loc[2, "n_shared_13grams"] == 1
    assert not got.loc[3, "contaminated"] and got.loc[3, "n_shared_13grams"] == 0
    assert not got.loc[4, "contaminated"]

    bench_grams_bcast = quality.ngram_contamination(df, bench, n=13)
    plan = bench_grams_bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.parametrize("nlist,nprobe", [(1, 1), (4, 2)])
def test_adc_topk_partition_invariant_under_ties(spark, nlist, nprobe):
    """With duplicated identical vectors (exact ADC ties) and a tight
    refine, ADC top-k results must not depend on how the codes are
    partitioned — the kernel's (adc, neighbor_id) lexsort prune and
    self-before-prune exclusion make the candidate set deterministic.
    One cell is plain PQ/ADC (the ``pq_topk`` query), four cells probed
    two at a time is IVFADC."""
    import numpy as np
    import pandas as pd

    from pyhydroqc_spark.textops import ann

    rng = np.random.default_rng(41)
    base = rng.normal(0, 1, (30, 16))
    X = np.vstack([base, base, base])  # every vector duplicated 3x: ties
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(90), "embedding": list(map(list, X))}),
        "vec_id long, embedding array<double>",
    )
    books = ann.pq_codebooks_hash(16, m=4, k=16)
    queries = df.where(F.col("vec_id") < 2)

    cents = ann.ivf_centroids(16, nlist)
    outs = []
    for parts in (1, 7):
        idx = ann.ivfpq_index(df.repartition(parts), cents, books)
        got = (
            ann.ivfpq_topk(idx, queries, cents, books, k=8, nprobe=nprobe,
                           refine=10, full_vectors=df)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        outs.append(got[["query_id", "neighbor_id", "rank"]])
    pd.testing.assert_frame_equal(outs[0], outs[1])


# --------------------------------------------------------------------------
# exact-substring (duplicated-span) dedup — Lee et al. 2022 shape
# --------------------------------------------------------------------------

_SPAN_CORPUS = [
    (1, "a b c d e f"),            # shares (a b c),(b c d) with doc 2
    (2, "x a b c d y"),
    (3, "p q r p q r p q"),        # every 3-gram self-repeats -> whole doc
    (4, "u v w s t r2"),           # unique
    (5, "m1 m2 m3 m4 m5 m6"),      # [1,3] + [4,6] contiguous -> ONE island
    (6, "m1 m2 m3 q7"),
    (7, "m4 m5 m6 q8"),
    (8, "g1 g2 g3 u0 g4 g5 g6"),   # [1,3] + [5,7] with a gap -> TWO islands
    (9, "g1 g2 g3 z"),
    (10, "g4 g5 g6 z2"),
]


def _dup_spans_reference(rows, n):
    """Pure-Python reference: corpus n-gram counts -> marks -> merged
    islands, the straight-line transcription of the operator's contract."""
    grams: dict[tuple, int] = {}
    words = {i: t.lower().split() for i, t in rows}
    for i, w in words.items():
        for p in range(len(w) - n + 1):
            g = tuple(w[p : p + n])
            grams[g] = grams.get(g, 0) + 1
    out = {}
    for i, w in words.items():
        spans = [
            (p + 1, p + n)
            for p in range(len(w) - n + 1)
            if grams[tuple(w[p : p + n])] >= 2
        ]
        islands: list[list[int]] = []
        for s, e in spans:
            if islands and s <= islands[-1][1] + 1:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        dup = sum(e - s + 1 for s, e in islands)
        out[i] = (len(w), len(islands), dup)
    return out


def test_dup_spans_matches_reference(spark):
    df = spark.createDataFrame(pd.DataFrame(_SPAN_CORPUS, columns=["doc_id", "text"]))
    got = {
        r["id"]: (r["n_words"], r["n_dup_spans"], r["dup_words"], r["dup_word_frac"])
        for r in dedup.dup_spans(df, n=3).collect()
    }
    ref = _dup_spans_reference(_SPAN_CORPUS, 3)
    assert set(got) == set(ref)
    for i, (nw, nisl, dup) in ref.items():
        gnw, gn, gd, gf = got[i]
        assert (gnw, gn, gd) == (nw, nisl, dup), f"doc {i}"
        assert gf == pytest.approx(dup / nw)
    # the structural cases the fixture plants
    assert got[3][1:3] == (1, 8)      # self-repeats cover the whole doc
    assert got[4][1:3] == (0, 0)      # clean doc -> zeros, not missing
    assert got[5][1] == 1             # contiguous spans merge
    assert got[8][1] == 2             # gapped spans stay separate

    # a planted ultra-hot boilerplate gram: 400 docs open and close with
    # the same 12 words, so its rows all land on one count partition
    boiler = " ".join(f"b{i}" for i in range(12))
    hot_rows = [(i, boiler + f" filler{i} mid{i} " + boiler) for i in range(400)]
    hot = dedup.dup_spans(
        spark.createDataFrame(pd.DataFrame(hot_rows, columns=["doc_id", "text"])), n=12
    ).collect()
    assert {r["id"]: (r["n_words"], r["n_dup_spans"], r["dup_words"]) for r in hot} == (
        _dup_spans_reference(hot_rows, 12)
    )
    assert all(r["n_dup_spans"] >= 1 for r in hot)  # every doc covered


def test_dup_spans_real_docs_duckdb_parity(spark, docs):
    """Full-value parity vs an independent DuckDB transcription on the
    sf0.001 documents table (the driver gate replays the same shape at
    sf0.01 inside doc_profile)."""
    import duckdb

    n = 12
    got = (
        dedup.dup_spans(docs, n=n)
        .select("id", "n_dup_spans", "dup_words")
        .orderBy("id")
        .toPandas()
    )
    con = duckdb.connect()
    ref = con.execute(f"""
WITH wq AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS w
  FROM '{DOCS}'
), grams AS (
  SELECT id, unnest(range(1, len(w) - {n - 2})) AS pos,
         unnest(list_transform(range(1, len(w) - {n - 2}),
           i -> CAST(('0x' || substr(md5(array_to_string(w[i:i+{n - 1}], ' ')), 1, 15)) AS BIGINT))) AS gh
  FROM wq WHERE len(w) >= {n}
), dupg AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2
), mk AS (
  SELECT g.id, g.pos, g.pos + {n - 1} AS e FROM grams g JOIN dupg USING (gh)
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
), pd AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS dup_words
  FROM sp GROUP BY id
)
SELECT CAST(wq.id AS BIGINT) AS id,
       COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(pd.dup_words, 0) AS dup_words
FROM wq LEFT JOIN pd ON pd.id = wq.id
ORDER BY id
""").df()
    assert got["id"].tolist() == ref["id"].tolist()
    assert got["n_dup_spans"].tolist() == ref["n_dup_spans"].tolist()
    assert got["dup_words"].tolist() == ref["dup_words"].tolist()
    assert (got["n_dup_spans"] > 0).any()  # the fixture corpus has real dups
