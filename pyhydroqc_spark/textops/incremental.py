"""Incremental near-duplicate dedup against a persisted signature store.

The operational shape at corpus scale: partitions of new documents land
continuously, and each batch must be deduplicated against EVERYTHING seen
before — without ever re-scanning, re-hashing, or re-pairing the old
corpus. The store keeps only MinHash state, never text: ~``8·num_perm``
bytes per document of signatures plus ``bands`` bucket rows of three
longs — at 10⁹ docs that is tens of GB of state guarding hundreds of TB
of corpus.

Decision rule (order-free, so incremental ≡ one-shot): a document is a
duplicate iff some document with a SMALLER id shares an LSH band bucket
with it AND their signature-estimated Jaccard ``(# equal minhash
positions)/num_perm`` reaches ``threshold``. Because the rule compares
against all earlier documents — kept or dropped — the store is a pure
function of the data seen, independent of past decisions, and running
the corpus through in id-ordered batches produces byte-identical
keep/drop flags to a single one-shot pass (the driver gate proves this
against a one-shot SQL replay). Batches must arrive in id order
(``min(batch) > max(store)``, checked); out-of-order ingest would need
decision retraction, which no streaming dedup can offer.

Physical shape per batch — the store is NEVER shuffled:

1. signature + banding of the new batch only (one pass over batch text);
2. candidate pairs vs the store: the batch's bucket rows BROADCAST
   against the store's bucket table, which therefore streams map-side —
   a linear scan of small rows, no shuffle, no sort;
3. signature verification: candidate ids (near-dup-sized) broadcast
   against the store's signature table — again a map-side stream;
4. in-batch pairs via the ordinary ``minhash_candidates`` path;
5. append the batch's signatures + bucket rows as a new snapshot
   (atomic; a killed job resumes from the last committed snapshot, and
   re-running a batch is idempotent-by-re-decision since decisions
   never depend on the failed attempt's partial state — uncommitted
   snapshots are invisible).

The caller drives the batches: one ``incremental_dedup`` call per landed
partition, in id order. There is no streaming (foreachBatch) driver.

Reference: the pyhydroqc pipeline has no dedup analogue; this extends
the engine's training-data stack (SURVEY §2 engine-added operators) the
same way streaming_rollup extends the batch rollups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tables import SnapshotTable
from .dedup import banded_buckets, minhash_candidates, minhash_signatures


class DedupStore:
    """Two snapshot tables of MinHash state: ``sigs`` (id, signature)
    and ``buckets`` (band, bucket, id). ``max_id`` rides the snapshot
    manifest (no scan needed to enforce the id-order contract)."""

    def __init__(self, root: str):
        self.root = root
        self.sigs = SnapshotTable(os.path.join(root, "sigs"))
        self.buckets = SnapshotTable(os.path.join(root, "buckets"))

    def max_id(self):
        return self.sigs.latest_extra_value("max_id")

    def read_sigs(self, spark: SparkSession) -> DataFrame | None:
        return self.sigs.read(spark)

    def read_buckets(self, spark: SparkSession) -> DataFrame | None:
        return self.buckets.read(spark)


def _est_jaccard(sig_a, sig_b, num_perm: int):
    """Fraction of equal minhash positions — the standard unbiased
    signature estimate of Jaccard similarity."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: x == y)
    return F.size(F.filter(eq, lambda v: v)) / F.lit(float(num_perm))


def _decide(
    new_docs: DataFrame,
    store: DedupStore,
    threshold: float,
    num_perm: int,
    bands: int,
    shingle_k: int,
    id_col: str,
    text_col: str,
):
    """Core decision pass: returns (decisions, sig_new, b_new, bounds)
    with decisions local-checkpointed (decided, and no cache entry left
    behind) and ``sig_new`` still persisted (callers write it to the
    store, then unpersist)."""
    from pyspark import StorageLevel

    spark = new_docs.sparkSession
    sig_new = minhash_signatures(
        new_docs, id_col=id_col, text_col=text_col,
        num_perm=num_perm, shingle_k=shingle_k,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    b_new = banded_buckets(sig_new, bands=bands)

    # id-order contract: decisions can never be retracted, so every id in
    # this batch must exceed everything already stored
    bounds = sig_new.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    prev_max = store.max_id()
    if prev_max is not None and bounds["lo"] is not None and bounds["lo"] <= prev_max:
        sig_new.unpersist()
        raise ValueError(
            f"batch min id {bounds['lo']} <= store max id {prev_max}: "
            "incremental dedup requires id-ordered batches"
        )

    # --- candidates vs the store (store streams map-side, never shuffled)
    old_b = store.read_buckets(spark)
    matches = []
    if old_b is not None:
        cand_old = (
            old_b.withColumnRenamed("id", "id_a")
            .join(F.broadcast(b_new).withColumnRenamed("id", "id_b"), ["band", "bucket"])
            # id_a < id_b is a no-op in a consistent store (everything
            # stored is smaller by the id-order contract) but shields a
            # replay after an interrupted commit, where the batch can see
            # its own bucket rows from the failed attempt
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        old_sigs = store.read_sigs(spark)
        verified_old = (
            old_sigs.select(
                F.col("id").alias("id_a"), F.col("signature").alias("__sa")
            )
            .join(F.broadcast(cand_old), "id_a")
            .join(
                sig_new.select(
                    F.col("id").alias("id_b"), F.col("signature").alias("__sb")
                ),
                "id_b",
            )
            .where(
                _est_jaccard(F.col("__sa"), F.col("__sb"), num_perm)
                >= F.lit(threshold)
            )
            .select("id_a", "id_b")
        )
        matches.append(verified_old)

    # --- in-batch candidates (id_a < id_b already guaranteed)
    cand_new = minhash_candidates(sig_new, bands=bands)
    verified_new = (
        cand_new.join(
            sig_new.select(F.col("id").alias("id_a"), F.col("signature").alias("__sa")),
            "id_a",
        )
        .join(
            sig_new.select(F.col("id").alias("id_b"), F.col("signature").alias("__sb")),
            "id_b",
        )
        .where(_est_jaccard(F.col("__sa"), F.col("__sb"), num_perm) >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    matches.append(verified_new)

    allm = matches[0]
    for m in matches[1:]:
        allm = allm.unionByName(m)
    dup = allm.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    decisions = (
        sig_new.select("id")
        .join(dup.withColumnRenamed("id_b", "id"), "id", "left")
        .select("id", F.col("dup_of").isNull().alias("keep"), "dup_of")
        .localCheckpoint(eager=True)  # decide BEFORE the store moves on
    )
    if old_b is not None:
        cand_old.unpersist()
    return decisions, sig_new, b_new, bounds


def _new_max(store: DedupStore, bounds) -> int:
    prev = store.max_id()
    return bounds["hi"] if prev is None else max(prev, bounds["hi"])


def incremental_dedup(
    new_docs: DataFrame,
    store: DedupStore,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, keep, dup_of): the batch's keep/drop decisions against
    everything the store has seen plus the batch itself; ``dup_of`` is
    the smallest verified-duplicate neighbor id (NULL when kept).
    Appends the batch's state to the store. The returned frame is small (one row per batch doc) and
    fully decided at return time."""
    decisions, sig_new, b_new, bounds = _decide(
        new_docs, store, threshold, num_perm, bands, shingle_k, id_col, text_col
    )
    if bounds["n"] > 0:
        tag = f"ids_le_{bounds['hi']}"
        # buckets FIRST, sigs (carrying the max_id high-water mark) LAST.
        # The reverse order could crash after the sigs append: max_id
        # already advanced but the batch's bucket
        # rows gone forever, so later batches would silently miss
        # duplicates against this one AND the id-order contract blocks a
        # replay. With sigs last, an interrupted commit leaves only
        # orphaned bucket rows, which the candidate join ignores (ids
        # absent from the signature table), and the batch replays cleanly.
        store.buckets.append(b_new, partition=tag)
        store.sigs.append(
            sig_new, partition=tag, extra={"max_id": _new_max(store, bounds)}
        )
    sig_new.unpersist()
    return decisions
