"""Snapshot-versioned parquet tables — the engine's table format.

The production design targets Apache Iceberg (snapshot isolation, MERGE
INTO, expire_snapshots); the runtime image ships no Iceberg jars, so the
engine carries a minimal structural equivalent with the same contracts:

* every ``append``/``overwrite_partition`` commit writes immutable parquet
  files plus a JSON snapshot manifest listing the live files;
* readers pin a snapshot id → repeatable reads while writers commit;
* ``added_files(a, b)`` → snapshot-diff drives incremental rollup
  maintenance (only new partitions since the checkpointed snapshot);
* ``expire(before_snapshot)`` / ``drop_partitions(pred)`` → retention is a
  metadata-only operation, exactly like Iceberg partition drops.

Layout::

    root/
      data/<commit-uuid>/part-*.parquet
      _snapshots/v00001.json   {"id", "parent", "files": {file: partition}}
      _snapshots/CURRENT       ("1")

``commit_tables`` lands several tables from ONE Spark write: rows staged
once, partitioned by their target table, then one atomic commit per table
(the fused_cells pipeline's tier families and the streaming tier merge).

Table maintenance is metadata-only: ``rewrite_manifests`` and
``expire_snapshots``. Data files are never compacted; each commit writes
one Spark job's files.

Swapping this for real Iceberg is a one-module change: the pipeline only
uses append / read / added_files / overwrite_partition / drop_partitions /
commit_tables.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _parquet_rows(paths: list) -> int:
    """Total row count of local parquet files from their footers (no scan)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _manifest_sid(path: str) -> int:
    """Snapshot id from a manifest filename. ``v{sid:05d}.json`` is
    ZERO-PADDED, not fixed-width: past sid 99999 the name widens to six
    digits, so parse everything between the ``v`` and the extension — a
    fixed ``[1:6]`` slice would read ``v100000.json`` as 10000 and
    retention would delete the CURRENT manifest."""
    return int(os.path.basename(path)[1:].split(".", 1)[0])


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def current_snapshot_id(self) -> int:
        cur = os.path.join(self.snap_dir, "CURRENT")
        if not os.path.exists(cur):
            return 0
        with open(cur) as f:
            return int(f.read().strip())

    def _snap_path(self, sid: int) -> str:
        return os.path.join(self.snap_dir, f"v{sid:05d}.json")

    def _load(self, sid: int) -> dict:
        if sid == 0:
            return {"id": 0, "parent": None, "files": {}}
        with open(self._snap_path(sid)) as f:
            return json.load(f)

    def _commit(self, files: dict, extra: dict | None = None) -> int:
        parent = self.current_snapshot_id()
        sid = parent + 1
        snap = {"id": sid, "parent": parent, "files": files}
        if extra:
            # application metadata rides the atomic manifest write (Iceberg
            # snapshot-summary analogue) — e.g. the streaming batch id that
            # makes foreachBatch merges idempotent under retries
            snap["extra"] = dict(extra)
        tmp = self._snap_path(sid) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, self._snap_path(sid))
        cur_tmp = os.path.join(self.snap_dir, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(sid))
        os.replace(cur_tmp, os.path.join(self.snap_dir, "CURRENT"))
        return sid

    # -- writes ---------------------------------------------------------------

    def _commit_dir(self) -> str:
        return os.path.join(self.root, "data", uuid.uuid4().hex[:12])

    def _write_files(self, df: DataFrame, partition: str | None) -> list[str]:
        commit_dir = self._commit_dir()
        df.write.mode("overwrite").parquet(commit_dir)
        return sorted(glob.glob(os.path.join(commit_dir, "*.parquet")))

    def append(
        self, df: DataFrame, partition: str | None = None, extra: dict | None = None
    ) -> int:
        """Append rows as a new snapshot; ``partition`` tags the files for
        partition-level overwrite/retention; ``extra`` rides the manifest
        (Iceberg snapshot-summary analogue, see ``latest_extra_value``)."""
        new_files = self._write_files(df, partition)
        files = dict(self._load(self.current_snapshot_id())["files"])
        for fp in new_files:
            files[fp] = partition
        return self._commit(files, extra)

    def overwrite_partition(
        self, df: DataFrame, partition: str, extra: dict | None = None
    ) -> int:
        """Replace all files of one partition (Iceberg replacePartitions /
        MERGE-by-partition analogue) in a single atomic snapshot."""
        return self._overwrite_with(
            self._write_files(df, partition), partition, extra
        )

    def overwrite_partition_counted(self, df: DataFrame, partition: str):
        """``overwrite_partition`` that also returns the row count, read
        from the freshly written parquet FOOTERS — zero extra Spark
        actions. A separate ``df.count()`` re-executes the plan (even a
        cached one is a second full pass over the partition at scale);
        the footer metadata is already on disk. Returns (snapshot_id, n)."""
        new_files = self._write_files(df, partition)
        n = _parquet_rows(new_files)
        return self._overwrite_with(new_files, partition), n

    def _overwrite_with(
        self, new_files: list, partition: str, extra: dict | None = None
    ) -> int:
        return self._replace(
            {fp: partition for fp in new_files}, {partition}, extra
        )

    def _replace(self, new_files: dict, replaced: set, extra: dict | None = None) -> int:
        """Commit ``new_files`` ({file: partition}) in place of every live
        file whose partition is in ``replaced``."""
        files = {
            fp: p
            for fp, p in self._load(self.current_snapshot_id())["files"].items()
            if p not in replaced
        }
        files.update(new_files)
        return self._commit(files, extra)

    def snapshot_extra(self, snapshot_id: int | None = None) -> dict:
        """Application metadata attached to a snapshot commit (empty dict
        when none was recorded)."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        return self._load(sid).get("extra", {})

    def latest_extra_value(self, key: str):
        """Most recent value recorded for ``key`` across the snapshot
        lineage, walking parent pointers from the current snapshot. Needed
        because ``extra`` is per-snapshot (Iceberg snapshot-summary
        semantics): an interleaved non-stream commit (append, retention
        drop) carries no ``stream_batch_id``, and reading only the CURRENT
        snapshot would forget the streaming high-water mark and let a
        foreachBatch retry double-fold a batch. Walk cost is bounded by the
        commits since the key was last written — one JSON read each.
        Returns None if no lineage snapshot carries the key (including when
        older manifests were compacted away by rewrite_manifests before the
        key ever appeared)."""
        sid = self.current_snapshot_id()
        while sid:
            try:
                snap = self._load(sid)
            except FileNotFoundError:
                return None  # compacted past — no record survives
            extra = snap.get("extra", {})
            if key in extra:
                return extra[key]
            sid = snap.get("parent") or 0
        return None

    def overwrite_partitions(
        self, df: DataFrame, partition_col: str, extra: dict | None = None
    ) -> int:
        """Dynamic partition overwrite (Iceberg ``replaceWhere`` analogue):
        ONE Spark write job partitioned on ``partition_col``; only the
        partitions actually present in ``df`` are replaced, everything else
        is carried forward untouched — all in a single atomic snapshot.

        ``partition_col`` is duplicated into a ``__part`` directory key so
        the original column stays inside the data files (readers get the
        same schema whether they scan one file or the whole table)."""
        from pyspark.sql import functions as F

        commit_dir = self._commit_dir()
        (
            df.withColumn("__part", F.col(partition_col).cast("string"))
            .write.mode("overwrite")
            .partitionBy("__part")
            .parquet(commit_dir)
        )
        new_files = _part_files(commit_dir)
        return self._replace(new_files, set(new_files.values()), extra)

    # -- reads ----------------------------------------------------------------

    def files(self, snapshot_id: int | None = None) -> list[str]:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        return sorted(self._load(sid)["files"].keys())

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame | None:
        fs = self.files(snapshot_id)
        if not fs:
            return None
        return spark.read.parquet(*fs)

    def files_for_partitions(
        self, partitions: set, snapshot_id: int | None = None
    ) -> list[str]:
        """Partition-pruned file listing — the read side of a cell-scoped
        merge touches only the partitions named, never the whole store."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        parts = {str(p) for p in partitions}
        return sorted(
            fp for fp, p in self._load(sid)["files"].items() if p in parts
        )

    def added_files(self, from_snapshot: int, to_snapshot: int | None = None) -> list[str]:
        """Files present in ``to`` but not in ``from`` — the incremental diff."""
        to_snapshot = self.current_snapshot_id() if to_snapshot is None else to_snapshot
        old = set(self._load(from_snapshot)["files"])
        new = self._load(to_snapshot)["files"]
        return sorted(set(new) - old)

    def partitions(self, snapshot_id: int | None = None) -> set:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        return {p for p in self._load(sid)["files"].values() if p is not None}

    # -- retention ------------------------------------------------------------

    def drop_partitions(self, keep_pred) -> int:
        """Metadata-only retention: new snapshot without partitions failing
        ``keep_pred(partition) -> bool``."""
        files = {
            fp: p
            for fp, p in self._load(self.current_snapshot_id())["files"].items()
            if p is None or keep_pred(p)
        }
        return self._commit(files)

    def rewrite_manifests(self, keep_last: int = 2) -> int:
        """Metadata-only manifest compaction (Iceberg ``rewrite_manifests``
        analogue): drop manifest JSONs older than the newest ``keep_last``
        without touching any data file. Each snapshot manifest is
        self-contained (full live-file map), so planning a read is always
        ONE manifest load — O(current files) regardless of commit count —
        but long-lived stores accumulate one JSON per commit; this bounds
        that. Returns the number of manifests removed."""
        cur = self.current_snapshot_id()
        keep = set(range(max(1, cur - keep_last + 1), cur + 1))
        doomed = sorted(
            (
                p
                for p in glob.glob(os.path.join(self.snap_dir, "v*.json"))
                if _manifest_sid(p) not in keep
            ),
            key=_manifest_sid,  # lexicographic path order inverts past sid 99999
        )
        if doomed:
            # preserve lineage metadata: any ``extra`` key whose most recent
            # value lives only in a doomed manifest (e.g. the streaming
            # batch high-water mark when non-stream commits followed it)
            # is folded into the OLDEST kept manifest so
            # latest_extra_value() still finds it after compaction
            inherited: dict = {}
            for p in doomed:  # ascending sid — later values win
                with open(p) as f:
                    inherited.update(json.load(f).get("extra", {}))
            kept_keys: set[str] = set()
            for sid in keep:
                try:
                    kept_keys |= set(self._load(sid).get("extra", {}))
                except FileNotFoundError:
                    pass
            carry = {k: v for k, v in inherited.items() if k not in kept_keys}
            if carry:
                oldest = min(keep)
                snap = self._load(oldest)
                snap["extra"] = {**carry, **snap.get("extra", {})}
                snap["parent"] = None  # lineage below this point is gone
                tmp = self._snap_path(oldest) + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(snap, f)
                os.replace(tmp, self._snap_path(oldest))
        for path in doomed:
            os.remove(path)
        return len(doomed)

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Delete manifests older than the newest ``keep_last`` and any data
        files no longer referenced by a live snapshot."""
        cur = self.current_snapshot_id()
        live_ids = [s for s in range(max(1, cur - keep_last + 1), cur + 1)]
        live_files: set[str] = set()
        for sid in live_ids:
            live_files |= set(self._load(sid)["files"])
        removed = []
        # manifest removal shares rewrite_manifests' path so lineage extras
        # (streaming high-water marks) survive expiry too
        self.rewrite_manifests(keep_last)
        # data files live either directly under data/<commit>/ (append /
        # overwrite_partition) or one level deeper under a dynamic-partition
        # directory data/<commit>/__part=*/ (overwrite_partitions) — sweep
        # both layouts or replaced streaming files grow without bound
        for pattern in ("*", os.path.join("*", "__part=*")):
            for fp in glob.glob(
                os.path.join(self.root, "data", pattern, "*.parquet")
            ):
                if fp not in live_files:
                    os.remove(fp)
                    removed.append(fp)
        return removed


def _part_files(commit_dir: str) -> dict[str, str]:
    """{file: partition value} of a ``__part=<value>`` directory layout.
    Spark URL-escapes special chars in partition directory names (':' ->
    '%3A'); unescape so manifest values match the raw strings callers pass
    to files_for_partitions."""
    from urllib.parse import unquote

    return {
        fp: unquote(os.path.basename(os.path.dirname(fp)).split("=", 1)[1])
        for fp in sorted(glob.glob(os.path.join(commit_dir, "__part=*", "*.parquet")))
    }


def commit_tables(
    df: DataFrame,
    key_col: str,
    tables: dict,
    partition: str | None = None,
    partition_col: str | None = None,
    extra: dict | None = None,
) -> dict:
    """ONE Spark write, one atomic snapshot commit per table.

    ``tables`` maps each value of ``key_col`` to the ``SnapshotTable`` its
    rows belong to. The rows are written once, partitioned by ``key_col``,
    into a staging directory beside the tables; each key's directory is
    then renamed into its table's ``data/<commit>/`` and that table's
    manifest committed, in ``tables`` order. Like ``partitionBy``,
    ``key_col`` is kept out of the data files (duplicate it first to keep
    it inside).

    Exactly one of:

    * ``partition`` — every table's ``partition`` is replaced by its rows
      (``overwrite_partition`` per table);
    * ``partition_col`` — each table replaces only the values of
      ``partition_col`` its rows carry (``overwrite_partitions`` per table,
      same ``__part=<value>`` layout).

    Each table commits on its own, so a crash between two commits leaves
    every table either fully at its new snapshot or untouched; a table's
    moved directory is removed again if its commit fails, and the staging
    directory is always removed. ``extra`` rides every table's manifest.
    Returns ``{key: (snapshot_id, rows)}``, the row count read from the
    committed parquet footers."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    if (partition is None) == (partition_col is None):
        raise ValueError("pass exactly one of partition / partition_col")
    tables = {str(k): t for k, t in tables.items()}
    parent = os.path.commonpath([os.path.dirname(t.root) for t in tables.values()])
    stage = os.path.join(parent, "_staging", uuid.uuid4().hex[:12])
    cols = [key_col]
    if partition_col is not None:
        df = df.withColumn("__part", F.col(partition_col).cast("string"))
        cols.append("__part")
    try:
        df.write.mode("overwrite").partitionBy(*cols).parquet(stage)
        staged = {
            unquote(os.path.basename(d).split("=", 1)[1]): d
            for d in glob.glob(os.path.join(stage, f"{key_col}=*"))
        }
        unknown = sorted(set(staged) - set(tables))
        if unknown:
            raise ValueError(f"rows for keys without a table: {unknown}")
        out = {}
        for k, table in tables.items():
            commit_dir = table._commit_dir()
            new_files: dict[str, str] = {}
            if k in staged:
                os.makedirs(os.path.dirname(commit_dir), exist_ok=True)
                os.rename(staged[k], commit_dir)
                if partition_col is None:
                    new_files = {
                        fp: partition
                        for fp in sorted(glob.glob(os.path.join(commit_dir, "*.parquet")))
                    }
                else:
                    new_files = _part_files(commit_dir)
            replaced = {partition} if partition_col is None else set(new_files.values())
            try:
                sid = table._replace(new_files, replaced, extra)
            except BaseException:
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise
            out[k] = (sid, _parquet_rows(list(new_files)))
        return out
    finally:
        shutil.rmtree(stage, ignore_errors=True)
