"""End-to-end resumable rollup pipeline.

One run = ingest token partitions → QC (rules + ARIMA-residual flag) →
correction → tier rollups (15min/1h/1d) → compressed series blobs, all
committed per input partition with checkpoint/lineage rows (north_rule:
"a killed job resumes exactly where it stopped").

Incremental maintenance: a partition is (re)processed when it has no DONE
checkpoint or when the input table's snapshot diff shows new files for it
since the checkpointed snapshot — the Spark-idiomatic analogue of
"continuous aggregates maintained incrementally as new partitions land".
Each tier table commit is an atomic partition overwrite (Iceberg
replacePartitions analogue — see tables.py). In ``fused_cells`` mode a
partition costs one Spark write per tier family: the kernel emits every
tier's cells and blobs in one pass, one write commits the cells of all
``rollup_{t}s`` tables and one more the blobs of all ``comp_tier_{t}s``
tables (``tables.commit_tables``: one staged write, then one atomic
snapshot per table). The native and ``fused`` modes commit tier by tier.

Skew: series are hash-repartitioned by doc_id before the grouped-map UDFs
(hot sources own ~50% of series; doc_id hashing spreads them evenly;
a series never splits across groups).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession, functions as F

from .checkpoint import CheckpointLog, STATUS_DONE
from .ingest import explode_tokens, repartition_series
from .operators import correct as correct_mod
from .operators import detect as detect_mod
from .operators.rollup import DEFAULT_TIERS, rollup_from_rollup, rollup_points
from .params import DEFAULT_PARAMS
from .tables import SnapshotTable, commit_tables


class PipelineResult:
    def __init__(self):
        self.partitions_processed: list[str] = []
        self.partitions_skipped: list[str] = []
        self.points_rolled_up: int = 0


def run_pipeline(
    spark: SparkSession,
    input_table: SnapshotTable,
    out_root: str,
    params=None,
    tiers=DEFAULT_TIERS,
    run_id: str | None = None,
    arima_order=(1, 1, 0),
    with_model_detect: bool = True,
    with_compression: bool = True,
    n_partitions: int | None = None,
    fail_after: int | None = None,
    mode: str = "native",
    repartition_input: bool = True,
) -> PipelineResult:
    """Process all pending input partitions; idempotent and resumable.

    ``fail_after`` is a test hook: raise after N partitions to simulate a
    killed job.

    ``repartition_input=False`` (fused_cells only) skips the doc_id
    exchange entirely: each input row is a complete series (token-table
    contract) and the cell kernel is row-independent, so when the input
    files are already balanced and sanely sized the job has NO full-data
    shuffle. Keep the default for unknown/skewed file layouts.
    """
    p = params or DEFAULT_PARAMS
    run_id = run_id or uuid.uuid4().hex[:8]
    ckpt = CheckpointLog(os.path.join(out_root, "_checkpoints"))
    tier_tables = {
        t: SnapshotTable(os.path.join(out_root, f"rollup_{t}s")) for t in tiers
    }
    # north_rule compression applies per retention tier; the point-level
    # blob table additionally keeps the full corrected series (native/fused
    # modes only — fused_cells never materializes per-point rows)
    comp_table = (
        SnapshotTable(os.path.join(out_root, "compressed"))
        if with_compression and mode != "fused_cells"
        else None
    )
    tier_comp_tables = (
        {t: SnapshotTable(os.path.join(out_root, f"comp_tier_{t}s")) for t in tiers}
        if with_compression
        else None
    )

    res = PipelineResult()
    in_snap = input_table.current_snapshot_id()
    # one manifest parse and one checkpoint-log scan per run, not per
    # partition: the per-partition skip test is then pure dict/set work
    part_files_of: dict[str, list[str]] = {}
    for f, pv in input_table._load(in_snap)["files"].items():
        if pv is not None:
            part_files_of.setdefault(pv, []).append(f)
    stage = "rollup"
    last_snaps = ckpt.last_input_snapshots(stage)
    seen_files: dict[int, set] = {}
    done = 0
    for part in sorted(part_files_of):
        part_files = part_files_of[part]
        last_snap = last_snaps.get(part, 0)
        if last_snap > 0:
            if last_snap not in seen_files:
                seen_files[last_snap] = set(input_table._load(last_snap)["files"])
            if seen_files[last_snap].issuperset(part_files):
                res.partitions_skipped.append(part)
                continue
        tok = spark.read.parquet(*part_files).withColumn("source", F.lit(part))
        n_points = _process_partition(
            spark, tok, part, p, tiers, tier_tables, comp_table,
            arima_order, with_model_detect, n_partitions, mode,
            tier_comp_tables, repartition_input,
        )
        ckpt.write(
            run_id, stage, part, in_snap, n_points,
            STATUS_DONE, lineage=part_files,
        )
        res.partitions_processed.append(part)
        res.points_rolled_up += n_points
        done += 1
        if fail_after is not None and done >= fail_after:
            raise RuntimeError(f"simulated failure after {done} partitions")
    return res


def _process_partition(
    spark, tok, part, p, tiers, tier_tables, comp_table,
    arima_order, with_model_detect, n_partitions, mode="native",
    tier_comp_tables=None, repartition_input=True,
) -> int:
    if mode == "fused_cells":
        # bandwidth-optimal: token arrays straight into the kernel, which
        # emits one row per (series, tier) carrying that tier's cell
        # vectors and its compressed blob (operators/fused.py:
        # fused_tokens_to_tiers). The small packed frame is cached and
        # committed by two writes: every tier's cells, then every tier's
        # blobs. The per-point blob table needs per-point rows, i.e.
        # mode="fused"/"native".
        from .operators.fused import explode_tier_cells, fused_tokens_to_tiers

        src = repartition_series(tok, n_partitions) if repartition_input else tok
        packed = fused_tokens_to_tiers(
            src, p, tier_seconds=tuple(sorted(tiers)), arima_order=arima_order,
            blobs=tier_comp_tables is not None,
        ).cache()
        try:
            # the tier stays inside the cell files: write a copy as the key
            cells = explode_tier_cells(packed).withColumn("__tier", F.col("tier"))
            # row counts ride the parquet footers of the commit
            counts = commit_tables(cells, "__tier", tier_tables, partition=part)
            if tier_comp_tables is not None:
                commit_tables(
                    packed.select("doc_id", "n_tok", "blob", "tier"), "tier",
                    tier_comp_tables, partition=part,
                )
            return sum(n for _, n in counts.values())
        finally:
            packed.unpersist()
    long_df = explode_tokens(repartition_series(tok, n_partitions))
    if mode == "fused":
        # single-pass per-series kernel (operators/fused.py): one shuffle,
        # one Arrow crossing — same outputs as the native chain (tested)
        from .operators.fused import fused_qc_correct

        corrected = fused_qc_correct(long_df, p, arima_order=arima_order)
        return _commit_rollups(
            corrected, part, tiers, tier_tables, comp_table, tier_comp_tables
        )
    if with_model_detect:
        detected = detect_mod.arima_detect(long_df, p, rules=True)
    else:
        from .operators import rules as rules_mod
        from .operators.events import anomaly_events

        qc = rules_mod.range_check(long_df, p.max_range, p.min_range)
        qc = rules_mod.persistence(qc, p.persist)
        qc = rules_mod.interpolate(qc)
        detected = anomaly_events(qc, "anomaly", wf=p.widen, out_col="detected_event")
    # slim the correction input: Arrow round-trips only the columns the
    # kernel needs, not the full QC column set
    corrected = correct_mod.generate_corrections(
        detected.select("doc_id", "pos", "ts", "observed", "detected_event"),
        "observed", "detected_event", arima_order=arima_order,
    )
    return _commit_rollups(
        corrected, part, tiers, tier_tables, comp_table, tier_comp_tables
    )


def _commit_tier_blobs(agg, part, t, tier_comp_tables) -> None:
    if tier_comp_tables is None:
        return
    from .compression import encode_tier_df

    tier_comp_tables[t].overwrite_partition(encode_tier_df(agg), part)


def _commit_rollups(
    corrected, part, tiers, tier_tables, comp_table, tier_comp_tables=None
) -> int:
    slim = corrected.select("doc_id", "ts", "pos", "det_cor").cache()
    finest = None
    try:
        tiers_sorted = sorted(tiers)
        finest = rollup_points(slim, tiers_sorted[0]).cache()
        total = 0
        agg = finest
        for t in tiers_sorted:
            if t != tiers_sorted[0]:
                agg = rollup_from_rollup(agg.drop("tier"), t)
            # footer-derived count: one execution per tier (the write),
            # not two
            _, n = tier_tables[t].overwrite_partition_counted(agg, part)
            _commit_tier_blobs(agg, part, t, tier_comp_tables)
            total += n
        if comp_table is not None:
            from .compression import encode_series_df

            comp_table.overwrite_partition(encode_series_df(slim), part)
        return total
    finally:
        slim.unpersist()
        if finest is not None:
            finest.unpersist()


def retention_sweep(out_root: str, tiers=DEFAULT_TIERS, keep_pred=None) -> None:
    """Metadata-only retention: drop aged partitions + expire old snapshots
    per tier table (Iceberg expire_snapshots analogue)."""
    for t in tiers:
        tbl = SnapshotTable(os.path.join(out_root, f"rollup_{t}s"))
        if keep_pred is not None:
            tbl.drop_partitions(keep_pred)
        tbl.expire_snapshots(keep_last=2)
