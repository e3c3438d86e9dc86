"""Structured-Streaming surface: incremental rollup maintenance and
stateful per-series QC.

The engine's primary incremental path is batch-over-snapshots
(pipeline.py); this module is the equivalent expressed as Structured
Streaming with ``Trigger.AvailableNow`` — each invocation drains whatever
new token files have landed, rolls them up, and MERGEs the affected
(doc_id, bucket) cells into the aggregate store via ``foreachBatch``.
State lives in the Spark checkpoint dir + the aggregate tables, so a
killed stream resumes exactly where it stopped (same guarantee as the
batch checkpoint log, enforced by Spark's write-ahead offsets).

Cell-level MERGE semantics: rollup aggregates (cnt/sum/min/max) are
commutative monoids, so merging a micro-batch's partial aggregates into
stored cells is associative — late/new data for an existing bucket folds
in without recomputing the series (`avg = merged sum / merged cnt`).

Stateful detect (``run_streaming_detect``): range + persistence flags on
a point stream, with batch semantics across micro-batches and drains.
Per (trigger, series), the buffered repeats of the still-short open run
are replayed in front of the new rows through the same numpy rule
kernels the fused pipeline runs (``range_flags_np``, ``run_ids_np``), so
the stream keeps no rule logic of its own.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .ingest import TOKEN_SCHEMA, explode_tokens
from .operators.fused import range_flags_np, run_ids_np
from .operators.rollup import rollup_points
from .tables import SnapshotTable, commit_tables


def _merge_cells(existing: DataFrame | None, incoming: DataFrame) -> DataFrame:
    if existing is None:
        return incoming
    merged = (
        existing.unionByName(incoming)
        .groupBy("doc_id", "bucket_start", "tier", "day")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
        .withColumn("avg_val", F.col("sum_val") / F.col("cnt"))
    )
    return merged.select(
        "doc_id", "bucket_start", "cnt", "sum_val", "avg_val", "min_val", "max_val",
        "tier", "day",
    )


def merge_batch_tiers(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    tiers,
    value_col: str = "value",
) -> int:
    """Multi-tier continuous aggregates: fold one micro-batch into EVERY
    retention tier's store (``agg_{t}s``). Every pending tier's partial
    cells come from ONE multi-tier ``rollup_points`` over the batch
    points, each point exploded once per pending tier (cnt/sum/min/max
    are mergeable, so no tier needs another tier's cells): the
    batch is scanned once and aggregated in one shuffle regardless of
    tier count, and all pending tiers merge in one write.

    Cell-scoped MERGE: read ONLY the day-partitions the batch touches,
    fold the batch's partial aggregates in, and atomically replace just
    those partitions (``tables.commit_tables`` in its
    ``overwrite_partitions`` form). Per-batch cost is O(touched cells),
    not O(store size).

    IDEMPOTENT under foreachBatch's at-least-once delivery: the batch id
    rides each store's atomic snapshot commit (manifest ``extra``), and a
    batch whose id is ≤ a store's last committed one is a retry of work
    already folded in — that store skips it, or cnt/sum would double. A
    crash between tier commits therefore replays safely: finished tiers
    skip, unfinished tiers apply. Returns how many tiers applied."""
    stores = {t: os.path.join(out_dir, f"agg_{t}s") for t in sorted(int(t) for t in tiers)}
    pending = _pending_stores(stores, batch_id)
    if not pending:
        return 0
    # a first batch is written as it is: keep the stores' column order,
    # with avg as Σsum/cnt, the form _merge_cells recomputes it in (the
    # operator's avg aggregate is pruned from the plan)
    cells = rollup_points(batch_df, tuple(pending), value_col=value_col).select(
        "doc_id", "bucket_start", "cnt", "sum_val",
        (F.col("sum_val") / F.col("cnt")).alias("avg_val"), "min_val", "max_val", "tier",
    )
    _merge_cells_into(batch_df.sparkSession, cells, batch_id, pending)
    return len(pending)


def _pending_stores(stores: dict, batch_id: int) -> dict:
    """{tier: SnapshotTable} of the stores that have not yet folded
    ``batch_id`` in. Walks the snapshot lineage, not just the current
    snapshot: an interleaved non-stream commit (append / retention) would
    otherwise hide the streaming high-water mark and a retry would
    double-count."""
    pending = {}
    for t, path in stores.items():
        store = SnapshotTable(path)
        last = store.latest_extra_value("stream_batch_id")
        if last is None or batch_id > int(last):
            pending[t] = store
    return pending


def _merge_cells_into(spark, cells: DataFrame, batch_id: int, stores: dict) -> None:
    """Fold partial cells of several tiers into their stores ({tier:
    SnapshotTable}): one distinct (tier, day) collect, one read of the
    touched day-partitions of every store, one merge write, then one
    commit per store carrying ``batch_id`` (see merge_batch_tiers for
    the idempotence contract)."""
    incoming = cells.withColumn(
        "day", F.date_format("bucket_start", "yyyy-MM-dd")
    ).persist()
    try:
        days: dict[int, set] = {}
        for r in incoming.select("tier", "day").distinct().collect():
            days.setdefault(int(r["tier"]), set()).add(r["day"])
        hit_files = [
            f
            for t, store in stores.items()
            for f in store.files_for_partitions(days.get(t, set()))
        ]
        merged = _merge_cells(
            spark.read.parquet(*hit_files) if hit_files else None, incoming
        )
        # each write task writes one file per (tier, day) it holds: range
        # partitioning gives a task one or two of them instead of all, and
        # doc_id still splits a large finest-tier day across tasks. No
        # partition count: AQE sizes the exchange to the merged cells, so
        # a small batch writes one file per (tier, day)
        merged = merged.repartitionByRange("tier", "day", "doc_id")
        # the tier stays inside the store files: write a copy as the key
        commit_tables(
            merged.withColumn("__tier", F.col("tier")), "__tier", stores,
            partition_col="day", extra={"stream_batch_id": int(batch_id)},
        )
    finally:
        incoming.unpersist()


def run_streaming_rollup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    tier_seconds: tuple[int, ...],
    value_col: str = "value",
) -> None:
    """Drain new token files → rollup cells → merge into out_dir.

    ``tier_seconds`` is a tuple of tiers: one store per tier,
    ``agg_{t}s`` — ALL retention tiers maintained continuously from the
    same single scan of each micro-batch.

    ``Trigger.AvailableNow`` processes everything pending then stops —
    the scheduled-job shape of "continuous aggregates maintained
    incrementally as new partitions land".

    The aggregate store and the stream checkpoint live and die together:
    batch ids (which make the merge idempotent under retries) are scoped to
    the checkpoint, so pointing a FRESH checkpoint at an existing store
    would replay ids from 0 and be skipped as duplicates — wipe both or
    neither.
    """
    ckpt_path = os.path.join(out_dir, "_stream_checkpoint")

    stream = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    long_df = explode_tokens(stream)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_tiers(batch_df, batch_id, out_dir, tier_seconds, value_col)

    q = (
        long_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ------------------------------------------------- stateful streaming detect

DETECT_OUT_SCHEMA = "doc_id string, pos bigint, value double, anomaly boolean"
DETECT_STATE_SCHEMA = "prev double, reps bigint, buf_pos array<bigint>, buf_val array<double>"


def _detect_group(key_, pdf_iter, state, max_range, min_range, persist_len, flush_pos):
    """One (trigger, series) step of the stateful detect: the buffered
    repeats of the open run go back in front of the trigger's rows, and
    the whole stretch runs through the batch rule kernels once.

    State is ``(prev, reps, buf_pos, buf_val)``: the value of the last
    received row, the repeats already emitted in the open run (non-zero
    only once that run reached ``persist_len``), and the buffered repeats
    of an open run that is still short."""
    prev, reps, buf_pos, buf_val = state.get if state.exists else (np.nan, 0, [], [])
    chunks = list(pdf_iter)
    pos = np.concatenate(
        [np.asarray(buf_pos, np.int64)] + [c["pos"].to_numpy(np.int64) for c in chunks]
    )
    if not len(pos):
        return
    val = np.concatenate(
        [np.asarray(buf_val, float)] + [c["value"].to_numpy(float) for c in chunks]
    )
    order = np.argsort(pos, kind="stable")
    pos, val = pos[order], val[order]
    keep = pos < flush_pos
    val[~keep] = np.nan  # a flush row breaks the run as a missing value does
    rep = np.r_[val[0] == prev, val[1:] == val[:-1]]
    grp = run_ids_np(rep)
    sizes = np.bincount(grp)
    if rep[0]:
        sizes[1] += reps
    flags = range_flags_np(val, max_range, min_range) | (rep & (sizes[grp] >= persist_len))
    run = int(grp[-1])  # the trailing repeat run, 0 if the last row repeats nothing
    reps = int(sizes[run]) if run else 0
    held = rep & (grp == run) & (reps < persist_len)
    state.update((
        float(val[-1]), reps if reps >= persist_len else 0, pos[held].tolist(), val[held].tolist()
    ))
    emit = keep & ~held
    yield pd.DataFrame(
        {"doc_id": key_[0], "pos": pos[emit], "value": val[emit], "anomaly": flags[emit]}
    )


def run_streaming_detect(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    max_range: float,
    min_range: float,
    persist_len: int,
    flush_pos: int,
) -> None:
    """Drain pending point files → per-series QC (range_check +
    persistence) → append flagged points to ``out_dir/flags``.

    A CUSTOM STATEFUL streaming operator: ``applyInPandasWithState``
    carries the open run across micro-batches, so a persistence run that
    straddles a batch (or drain) boundary is flagged exactly as the batch
    operator flags it on the concatenated series (`rules_detect.py:11-52`
    semantics: the first point of an equal stretch is NOT part of the
    persist group; a stretch of k equal values flags its k−1 repeats iff
    k−1 ≥ persist_len). ``Trigger.AvailableNow`` + the Spark state store
    under the checkpoint: a run that straddles two DRAINS (separate
    invocations, possibly after a crash) is still flagged exactly once,
    because the open-run buffer lives in checkpointed state, not in the
    driver.

    Emission is APPEND-mode-final: a point is emitted once its flag can
    never change — immediately, except for the repeats of a still-short
    OPEN run, which are buffered in state. The buffer is bounded: at most
    persist_len−1 rows, since a run that reaches the threshold emits
    flagged and later repeats emit immediately.

    Missing values match the BATCH operators exactly: a NULL/NaN value is
    emitted with ``anomaly = false`` and breaks the repeat chain on both
    sides. Arrow hands the kernel NaN for both NULL and NaN doubles, so a
    literal NaN is missing too. The END-OF-SERIES flush is OUT OF BAND:
    rows with ``pos >= flush_pos`` close the open run as a missing value
    does and are never emitted.

    Each (trigger, series) is one pass of the batch rule kernels
    (``_detect_group``). The state schema is ``DETECT_STATE_SCHEMA``; a
    checkpoint written under an older schema fails Spark's state-schema
    check, so such a stream restarts on fresh directories."""
    from functools import partial

    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema("doc_id string, pos bigint, value double")
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    flagged = stream.groupBy("doc_id").applyInPandasWithState(
        partial(
            _detect_group, max_range=max_range, min_range=min_range,
            persist_len=persist_len, flush_pos=flush_pos,
        ),
        outputStructType=DETECT_OUT_SCHEMA,
        stateStructType=DETECT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        flagged.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "flags"))
        .option("checkpointLocation", os.path.join(out_dir, "_detect_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
