"""Structured-Streaming surface for incremental rollup maintenance.

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
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .ingest import explode_tokens
from .operators.rollup import rollup_points
from .tables import SnapshotTable, commit_tables

TOKEN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


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
    retention tier's store (``agg_{t}s``). The finest tier aggregates the
    raw batch; coarser tiers re-aggregate the finest tier's PARTIAL cells
    (cnt/sum/min/max are monoids, so partials of partials are exact) — the
    batch is scanned once regardless of tier count, and all pending tiers
    merge in one write. Each store commits its own batch id, so a crash
    between tier commits replays safely: finished tiers skip, unfinished
    tiers apply. Returns how many tiers applied."""
    from functools import reduce

    from .operators.rollup import rollup_from_rollup

    tiers_sorted = sorted(int(t) for t in tiers)
    stores = {t: os.path.join(out_dir, f"agg_{t}s") for t in tiers_sorted}
    pending = _pending_stores(stores, batch_id)
    if not pending:
        return 0
    finest = rollup_points(batch_df, tiers_sorted[0], value_col=value_col).persist()
    try:
        agg, parts = finest, []
        for t in tiers_sorted:
            if t != tiers_sorted[0]:
                agg = rollup_from_rollup(agg.drop("tier"), t)
            if t in pending:
                parts.append(agg)
        _merge_cells_into(
            batch_df.sparkSession, reduce(DataFrame.unionByName, parts),
            batch_id, pending,
        )
    finally:
        finest.unpersist()
    return len(pending)


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    agg_path: str,
    tier_seconds: int = 900,
    value_col: str = "value",
) -> bool:
    """Cell-scoped MERGE of one micro-batch: read ONLY the day-partitions
    the batch touches, fold the batch's partial aggregates in, and
    atomically replace just those partitions (``tables.commit_tables`` in
    its ``overwrite_partitions`` form). Per-batch cost is O(touched
    cells), not O(store size).

    IDEMPOTENT under foreachBatch's at-least-once delivery: the batch id
    rides the atomic snapshot commit (manifest ``extra``), and a batch whose
    id is ≤ the last committed one is a retry of work already folded in —
    it must be skipped, or cnt/sum would double. Returns True if the batch
    was applied, False if it was recognized as a replay."""
    pending = _pending_stores({int(tier_seconds): agg_path}, batch_id)
    if pending:
        cells = rollup_points(batch_df, tier_seconds, value_col=value_col)
        _merge_cells_into(batch_df.sparkSession, cells, batch_id, pending)
    return bool(pending)


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
    commit per store carrying ``batch_id`` (see merge_batch for the
    idempotence contract)."""
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
    tier_seconds=900,
    value_col: str = "value",
) -> None:
    """Drain new token files → rollup cells → merge into out_dir.

    ``tier_seconds`` may be one tier (store ``agg``) or a tuple of tiers
    (one store per tier, ``agg_{t}s`` — ALL retention tiers maintained
    continuously from the same single scan of each micro-batch).

    ``Trigger.AvailableNow`` processes everything pending then stops —
    the scheduled-job shape of "continuous aggregates maintained
    incrementally as new partitions land".

    The aggregate store and the stream checkpoint live and die together:
    batch ids (which make the merge idempotent under retries) are scoped to
    the checkpoint, so pointing a FRESH checkpoint at an existing store
    would replay ids from 0 and be skipped as duplicates — wipe both or
    neither.
    """
    agg_path = os.path.join(out_dir, "agg")
    ckpt_path = os.path.join(out_dir, "_stream_checkpoint")

    stream = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    long_df = explode_tokens(stream)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if isinstance(tier_seconds, (tuple, list, set)):
            merge_batch_tiers(batch_df, batch_id, out_dir, tier_seconds, value_col)
        else:
            merge_batch(batch_df, batch_id, agg_path, tier_seconds, value_col)

    q = (
        long_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ------------------------------------------------- stateful streaming detect

DETECT_OUT_SCHEMA = "doc_id string, pos bigint, value double, anomaly boolean"
DETECT_STATE_SCHEMA = (
    "prev double, reps bigint, flagged boolean, "
    "buf_pos array<bigint>, buf_val array<double>, buf_rng array<boolean>"
)


def stateful_detect_stream(
    points,
    max_range: float,
    min_range: float,
    persist_len: int,
    key: str = "doc_id",
    flush_pos: int | None = None,
):
    """Per-series QC (range_check + persistence) as a CUSTOM STATEFUL
    streaming operator — ``applyInPandasWithState`` carrying the run state
    across micro-batches, so a persistence run that straddles a batch (or
    drain) boundary is flagged exactly as the batch operator flags it on
    the concatenated series (`rules_detect.py:11-52` semantics: the first
    point of an equal stretch is NOT part of the persist group; a stretch
    of k equal values flags its k−1 repeats iff k−1 ≥ persist_len).

    Emission is APPEND-mode-final: a point is emitted once its flag can
    never change — immediately for non-repeat points and for members of a
    run already ≥ persist_len; repeats of a still-short OPEN run are
    buffered in state (bounded: at most persist_len−1 rows — once a run
    reaches the threshold it flushes flagged and later repeats emit
    immediately).

    Missing values match the BATCH operators exactly: a NULL/NaN value is
    emitted as a row with ``anomaly = false`` (range_check coalesces NULL
    to false) and breaks the repeat chain on both sides (NULL diffs are
    not repeats) — closing any open run short, so its buffered repeats
    emit with only their range flags. An END-OF-SERIES flush is signalled
    OUT OF BAND via a reserved position: rows with ``pos >= flush_pos``
    (when set) close the open run the same way and are themselves
    dropped, never emitted. (Earlier revisions overloaded NULL as the
    flush sentinel, which made a genuine missing value silently vanish.)
    Caveat: Arrow hands the kernel NaN for both NULL and NaN doubles, so
    a literal NaN value is treated as missing too — deliberately, since
    Spark's NaN-is-largest ordering (NaN > max_range ⇒ true) is never
    the intent for a sensor feed's not-a-number readings.

    The kernel is vectorized per (trigger × series): the group's Arrow
    chunks are drained fully, concatenated, and sorted by ``pos`` ONCE —
    ``applyInPandasWithState`` only groups rows by key; it does not order
    them, and a series whose trigger data spans several Arrow batches (or
    several input files) would otherwise be processed out of order. State
    is per-group, so the concat is bounded by one series' trigger data.
    Run boundaries then come from one shifted-comparison pass, per-run
    flags from one reduceat — only the ≤2 state-boundary runs are handled
    individually."""
    import numpy as np
    import pandas as pd

    def fn(key_, pdf_iter, state):
        if state.exists:
            prev, reps, flagged, buf_pos, buf_val, buf_rng = state.get
            buf_pos, buf_val, buf_rng = list(buf_pos), list(buf_val), list(buf_rng)
        else:
            prev, reps, flagged = None, 0, False
            buf_pos, buf_val, buf_rng = [], [], []
        out_frames = []

        def process_span(pos, val, rng_flag, rep):
            """One sentinel-free span. Vectorized: stretch ids by cumsum of
            non-repeat heads, per-stretch repeat counts by bincount; only
            the two state-boundary stretches get scalar bookkeeping."""
            nonlocal prev, reps, flagged, buf_pos, buf_val, buf_rng
            n = len(pos)
            if n == 0:
                return None
            nonrep = ~rep
            sid = np.cumsum(nonrep)          # carried-run members have sid 0
            last = int(sid[-1])
            rep_counts = np.bincount(sid[rep], minlength=last + 1)
            totals = rep_counts.astype(np.int64)
            continues = bool(rep[0])         # batch head continues the open run
            if continues:
                totals[0] += reps
            # per-point persist flag (rep members of a qualifying stretch)
            pflag = rep & (totals[sid] >= persist_len)
            flags = rng_flag | pflag

            head_frames = []
            # resolve the carried buffer
            if buf_pos:
                if continues and totals[0] >= persist_len:
                    bflags = [True] * len(buf_pos)   # run crossed threshold
                elif continues and last == 0:
                    bflags = None                     # still open, still short
                else:
                    bflags = list(buf_rng)            # run closed short
                if bflags is not None:
                    head_frames.append((list(buf_pos), list(buf_val), bflags))
                    buf_pos, buf_val, buf_rng = [], [], []
            elif not continues:
                pass  # nothing carried to resolve

            # trailing open stretch: defer its unflagged rep members
            open_short = totals[last] < persist_len
            tail_mask = rep & (sid == last) if open_short else np.zeros(n, bool)
            emit_mask = ~tail_mask
            if tail_mask.any():
                buf_pos.extend(int(x) for x in pos[tail_mask])
                buf_val.extend(float(x) for x in val[tail_mask])
                buf_rng.extend(bool(x) for x in rng_flag[tail_mask])

            # state for the open run
            if continues and last == 0:
                reps = int(totals[0])
            else:
                reps = int(rep_counts[last])
            flagged = bool(totals[last] >= persist_len)
            prev = float(val[-1])

            return head_frames, pos[emit_mask], val[emit_mask], flags[emit_mask]

        # drain the WHOLE trigger for this group before touching the span
        # kernel: chunk-local sorts are not a global order when one
        # series' rows span several Arrow batches
        chunks = [c for c in pdf_iter if len(c)]
        if chunks:
            pdf = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            pdf = pdf.sort_values("pos")
            pos_all = pdf["pos"].to_numpy(dtype=np.int64)
            val_all = pdf["value"].to_numpy(dtype=np.float64)
            missing = np.isnan(val_all)
            if flush_pos is not None:
                is_flush = pos_all >= flush_pos
                missing &= ~is_flush
            else:
                is_flush = np.zeros(len(val_all), dtype=bool)
            rng_all = np.where(
                missing | is_flush,
                False,
                (val_all > max_range) | (val_all < min_range),
            )
            # split at run breaks: flush sentinels (reserved pos, dropped)
            # and missing values (emitted anomaly=false); both close the
            # open run, so its buffered repeats emit with range flags only
            breaks = np.flatnonzero(missing | is_flush)
            bounds = [-1] + list(breaks) + [len(val_all)]
            for b in range(len(bounds) - 1):
                lo, hi = bounds[b] + 1, bounds[b + 1]
                bi = bounds[b]
                if bi >= 0:  # a break row sits at bi
                    if buf_pos:
                        out_frames.append(
                            pd.DataFrame(
                                {"doc_id": key_[0], "pos": buf_pos,
                                 "value": buf_val, "anomaly": buf_rng}
                            )
                        )
                    buf_pos, buf_val, buf_rng = [], [], []
                    reps, flagged, prev = 0, False, None
                    if missing[bi]:
                        # genuine NULL: keep the row, batch semantics
                        out_frames.append(
                            pd.DataFrame(
                                {"doc_id": key_[0],
                                 "pos": [int(pos_all[bi])],
                                 "value": [float("nan")],
                                 "anomaly": [False]}
                            )
                        )
                if hi <= lo:
                    continue
                pos, val, rngf = pos_all[lo:hi], val_all[lo:hi], rng_all[lo:hi]
                rep = np.zeros(hi - lo, dtype=bool)
                rep[1:] = val[1:] == val[:-1]
                if prev is not None:
                    rep[0] = val[0] == prev
                res = process_span(pos, val, rngf.astype(bool), rep)
                if res is None:
                    continue
                head_frames, e_pos, e_val, e_flag = res
                for hp, hv, hf in head_frames:
                    out_frames.append(
                        pd.DataFrame(
                            {"doc_id": key_[0], "pos": hp, "value": hv,
                             "anomaly": hf}
                        )
                    )
                if len(e_pos):
                    out_frames.append(
                        pd.DataFrame(
                            {"doc_id": key_[0], "pos": e_pos, "value": e_val,
                             "anomaly": e_flag}
                        )
                    )
        state.update(
            (
                prev if prev is None else float(prev),
                int(reps),
                bool(flagged),
                buf_pos,
                buf_val,
                buf_rng,
            )
        )
        for f in out_frames:
            yield f

    from pyspark.sql.streaming.state import GroupStateTimeout

    return points.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=DETECT_OUT_SCHEMA,
        stateStructType=DETECT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_detect(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    max_range: float,
    min_range: float,
    persist_len: int,
    flush_pos: int | None = None,
) -> None:
    """Drain pending point files → stateful QC → append flagged points.

    ``Trigger.AvailableNow`` + the Spark state store under the checkpoint:
    a run that straddles two DRAINS (separate invocations, possibly after
    a crash) is still flagged exactly once with batch semantics, because
    the open-run buffer lives in checkpointed state, not in the driver."""
    stream = (
        spark.readStream.schema("doc_id string, pos bigint, value double")
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    flagged = stateful_detect_stream(
        stream, max_range, min_range, persist_len, flush_pos=flush_pos
    )
    q = (
        flagged.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "flags"))
        .option("checkpointLocation", os.path.join(out_dir, "_detect_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
