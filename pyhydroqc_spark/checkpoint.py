"""Checkpoint / lineage table — exact-resume bookkeeping (north_rule).

Every rollup stage writes one row per (stage, partition_key) after its
commit: input snapshot id, output point count, status, and lineage (the
input files that produced the partition). A killed job resumes by
anti-joining pending partitions against the DONE rows — work never
repeats and never goes missing.

Storage is an append-only JSONL directory (atomic tempfile+rename per
row-batch) — small, driver-written metadata, deliberately not a Spark
write path so a dying executor can't corrupt it. Reads surface it as a
Spark DataFrame for the anti-join.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

STATUS_DONE = "done"
STATUS_FAILED = "failed"

_SCHEMA = (
    "run_id string, stage string, partition_key string, snapshot_id long, "
    "point_count long, status string, updated_at double, lineage string"
)


class CheckpointLog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def write(
        self,
        run_id: str,
        stage: str,
        partition_key: str,
        snapshot_id: int,
        point_count: int,
        status: str = STATUS_DONE,
        lineage: list[str] | None = None,
    ) -> None:
        row = {
            "run_id": run_id,
            "stage": stage,
            "partition_key": partition_key,
            "snapshot_id": int(snapshot_id),
            "point_count": int(point_count),
            "status": status,
            "updated_at": time.time(),
            "lineage": json.dumps(sorted(lineage or [])),
        }
        tmp = os.path.join(self.root, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(row) + "\n")
        os.replace(tmp, os.path.join(self.root, f"ckpt-{uuid.uuid4().hex[:12]}.jsonl"))

    def _rows(self) -> list[dict]:
        rows = []
        for name in sorted(os.listdir(self.root)):
            if not name.endswith(".jsonl"):
                continue
            with open(os.path.join(self.root, name)) as f:
                for line in f:
                    if line.strip():
                        rows.append(json.loads(line))
        return rows

    def read(self, spark: SparkSession) -> DataFrame:
        rows = self._rows()
        if not rows:
            return spark.createDataFrame([], _SCHEMA)
        return spark.createDataFrame(rows, _SCHEMA)

    def done_partitions(self, stage: str) -> set[str]:
        """Latest status per (stage, partition) — DONE wins only if newest."""
        latest: dict[str, dict] = {}
        for r in self._rows():
            if r["stage"] != stage:
                continue
            k = r["partition_key"]
            if k not in latest or r["updated_at"] >= latest[k]["updated_at"]:
                latest[k] = r
        return {k for k, r in latest.items() if r["status"] == STATUS_DONE}

    def pending(self, stage: str, all_partitions: list[str]) -> list[str]:
        done = self.done_partitions(stage)
        return [p for p in all_partitions if p not in done]

    def last_input_snapshot(self, stage: str, partition_key: str) -> int:
        return self.last_input_snapshots(stage).get(partition_key, 0)

    def last_input_snapshots(self, stage: str) -> dict[str, int]:
        """Newest DONE input snapshot per partition of ``stage``, from ONE
        row scan — a run answers every partition's lookup from this map
        instead of re-reading the log per partition."""
        best: dict[str, int] = {}
        for r in self._rows():
            if r["stage"] == stage and r["status"] == STATUS_DONE:
                k = r["partition_key"]
                best[k] = max(best.get(k, 0), r["snapshot_id"])
        return best
