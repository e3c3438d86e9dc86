"""End-to-end resumable rollup pipeline.

One run = ingest token partitions → QC (rules + ARIMA-residual flag) →
correction → tier rollups (15min/1h/1d) → compressed tier blobs, all
committed per input partition with checkpoint/lineage rows (north_rule:
"a killed job resumes exactly where it stopped").

Incremental maintenance: a partition is (re)processed when it has no DONE
checkpoint or when the input table's snapshot diff shows new files for it
since the checkpointed snapshot — the Spark-idiomatic analogue of
"continuous aggregates maintained incrementally as new partitions land".
Each tier table commit is an atomic partition overwrite (Iceberg
replacePartitions analogue — see tables.py). A partition costs one Spark
write per tier family: the kernel emits every tier's cells and blobs in
one pass, one write commits the cells of all ``rollup_{t}s`` tables and
one more the blobs of all ``comp_tier_{t}s`` tables
(``tables.commit_tables``: one staged write, then one atomic snapshot per
table).

Skew: series are hash-repartitioned by doc_id before the kernel (hot
sources own ~50% of series; doc_id hashing spreads them evenly; a series
never splits across groups). The exchange's partition count follows the
kernel's cost, not the bytes AQE sees: one task per
``KERNEL_POINTS_PER_TASK`` points, read from the input's parquet footers,
capped at ``spark.sql.shuffle.partitions``. The frame is cached, so the
two writes that read it run the same number of tasks: a small partition
runs one kernel task and one task per write and commits one file per
table, and a large one keeps the full width.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession, functions as F

from .checkpoint import CheckpointLog, STATUS_DONE
from .ingest import TOKEN_SCHEMA, repartition_series, token_count
from .operators.fused import explode_tier_cells, fused_tokens_to_tiers
from .operators.rollup import DEFAULT_TIERS
from .params import DEFAULT_PARAMS
from .tables import SnapshotTable, commit_tables

# points per kernel task: ~0.15 s of kernel work at the ~5 µs per point a
# one-task stage measures, about a task's fixed cost (scheduling, Arrow
# hand-off, a Python worker's first start)
KERNEL_POINTS_PER_TASK = 1 << 15


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
    fail_after: int | None = None,
    mode: str = "fused_cells",
) -> PipelineResult:
    """Process all pending input partitions; idempotent and resumable.

    ``fail_after`` is a test hook: raise after N partitions to simulate a
    killed job. ``fused_cells`` is the only ``mode``.
    """
    if mode != "fused_cells":
        raise ValueError(f"unknown pipeline mode {mode!r}; the only mode is 'fused_cells'")
    p = params or DEFAULT_PARAMS
    run_id = run_id or uuid.uuid4().hex[:8]
    ckpt = CheckpointLog(os.path.join(out_root, "_checkpoints"))
    tier_tables = {
        t: SnapshotTable(os.path.join(out_root, f"rollup_{t}s")) for t in tiers
    }
    # north_rule compression applies per retention tier
    tier_comp_tables = {
        t: SnapshotTable(os.path.join(out_root, f"comp_tier_{t}s")) for t in tiers
    }

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
        tok = (
            spark.read.schema(TOKEN_SCHEMA).parquet(*part_files)
            .withColumn("source", F.lit(part))
        )
        n_points = _process_partition(
            spark, tok, part, p, tiers, tier_tables, tier_comp_tables, arima_order,
            _kernel_tasks(spark, part_files),
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


def _kernel_tasks(spark, part_files) -> int:
    """Kernel tasks for one partition: one per ``KERNEL_POINTS_PER_TASK``
    points (counted from the parquet footers), at least one and at most
    ``spark.sql.shuffle.partitions``."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-token_count(part_files) // KERNEL_POINTS_PER_TASK)))


def _process_partition(
    spark, tok, part, p, tiers, tier_tables, tier_comp_tables, arima_order, n_tasks,
) -> int:
    # bandwidth-optimal: token arrays straight into the kernel, which
    # emits one row per (series, tier) carrying that tier's cell vectors
    # and its compressed blob (operators/fused.py: fused_tokens_to_tiers).
    # The small packed frame is cached and committed by two writes: every
    # tier's cells, then every tier's blobs.
    packed = fused_tokens_to_tiers(
        repartition_series(tok, n_tasks), p, tier_seconds=tuple(sorted(tiers)),
        arima_order=arima_order,
    ).cache()
    try:
        # the tier stays inside the cell files: write a copy as the key
        cells = explode_tier_cells(packed).withColumn("__tier", F.col("tier"))
        # row counts ride the parquet footers of the commit
        counts = commit_tables(cells, "__tier", tier_tables, partition=part)
        commit_tables(
            packed.select("doc_id", "n_tok", "blob", "tier"), "tier",
            tier_comp_tables, partition=part,
        )
        return sum(n for _, n in counts.values())
    finally:
        packed.unpersist()


def retention_sweep(out_root: str, tiers=DEFAULT_TIERS, keep_pred=None) -> None:
    """Metadata-only retention: drop aged partitions + expire old snapshots
    per tier table and per tier blob table (Iceberg expire_snapshots
    analogue)."""
    for t in tiers:
        for name in (f"rollup_{t}s", f"comp_tier_{t}s"):
            tbl = SnapshotTable(os.path.join(out_root, name))
            if keep_pred is not None:
                tbl.drop_partitions(keep_pred)
            tbl.expire_snapshots(keep_last=2)
