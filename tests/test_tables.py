"""SnapshotTable hygiene: manifest compaction stays metadata-only and
planning stays O(current files); dynamic-partition overwrites GC correctly
and survive URL-escaped partition values."""

import glob
import os

from pyspark.sql import Row

from pyhydroqc_spark.tables import SnapshotTable


def test_manifest_hygiene_1000_commits(tmp_path):
    """1,000 commits: planning a read loads ONE self-contained manifest
    (cost O(current files), not O(commit history)); rewrite_manifests
    bounds the on-disk manifest count without touching data files."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    for i in range(1000):
        files = dict(tbl._load(tbl.current_snapshot_id())["files"])
        files[f"/data/f{i:04d}.parquet"] = f"p{i % 7}"
        tbl._commit(files)
    assert tbl.current_snapshot_id() == 1000

    # planning = exactly one manifest load, independent of history length
    loads = []
    orig = tbl._load
    tbl._load = lambda sid: (loads.append(sid), orig(sid))[1]
    fs = tbl.files()
    assert len(fs) == 1000
    assert len(loads) == 1
    tbl._load = orig

    # compaction: metadata-only, keeps the newest manifests + readability
    removed = tbl.rewrite_manifests(keep_last=2)
    assert removed == 998
    remaining = glob.glob(os.path.join(tbl.snap_dir, "v*.json"))
    assert len(remaining) == 2
    assert len(tbl.files()) == 1000  # current snapshot still fully readable
    assert len(tbl.files(999)) == 999  # keep_last window still time-travels


def test_expire_sweeps_nested_partition_layout(spark, tmp_path):
    """Data files written by overwrite_partitions live one level deeper
    (data/<uuid>/__part=*/): expire_snapshots must GC those too once
    they're replaced by a later dynamic overwrite."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
    tbl.overwrite_partitions(df1, "k")
    old_files = set(tbl.files())
    df2 = spark.createDataFrame([Row(k="a", v=10), Row(k="b", v=20)])
    tbl.overwrite_partitions(df2, "k")
    removed = tbl.expire_snapshots(keep_last=1)
    assert old_files <= set(removed)
    for fp in old_files:
        assert not os.path.exists(fp)
    got = {(r["k"], r["v"]) for r in tbl.read(spark).collect()}
    assert got == {("a", 10), ("b", 20)}


def test_overwrite_partitions_unescapes_special_chars(spark, tmp_path):
    """Partition values with URL-escaped characters (':' -> '%3A' in the
    directory name) must round-trip raw through the manifest so
    files_for_partitions matches caller-supplied strings."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [Row(k="2024-01-01 10:00", v=1), Row(k="2024-01-02 11:30", v=2)]
    )
    tbl.overwrite_partitions(df, "k")
    assert tbl.partitions() == {"2024-01-01 10:00", "2024-01-02 11:30"}
    fs = tbl.files_for_partitions({"2024-01-01 10:00"})
    assert len(fs) >= 1
    got = {r["v"] for r in spark.read.parquet(*fs).collect()}
    assert got == {1}


def test_manifest_id_parse_past_99999(tmp_path):
    """v{sid:05d}.json is zero-padded, not fixed-width: past sid 99999 the
    filename widens to six digits. Retention must parse the FULL id — a
    fixed [1:6] slice would read v100000.json as 10000 and delete the
    CURRENT manifest."""
    import json

    tbl = SnapshotTable(str(tmp_path / "t"))
    # fast-forward the table to just under the five-digit boundary, then
    # commit across it for real
    for i in range(2):
        files = dict(tbl._load(tbl.current_snapshot_id())["files"])
        files[f"/data/f{i}.parquet"] = None
        tbl._commit(files)
    for sid_old, sid_new in ((1, 99998), (2, 99999)):
        snap = tbl._load(sid_old)
        snap["id"] = sid_new
        snap["parent"] = sid_new - 1 if sid_new > 99998 else 0
        with open(tbl._snap_path(sid_new), "w") as f:
            json.dump(snap, f)
        os.remove(tbl._snap_path(sid_old))
    with open(os.path.join(tbl.snap_dir, "CURRENT"), "w") as f:
        f.write("99999")

    for i in range(2, 4):  # real commits 100000 and 100001
        files = dict(tbl._load(tbl.current_snapshot_id())["files"])
        files[f"/data/f{i}.parquet"] = None
        tbl._commit(files)
    assert tbl.current_snapshot_id() == 100001

    removed = tbl.rewrite_manifests(keep_last=2)
    assert removed == 2  # v99998, v99999 — and NOT the six-digit current
    assert os.path.exists(tbl._snap_path(100001))
    assert os.path.exists(tbl._snap_path(100000))
    assert len(tbl.files()) == 4  # current snapshot still fully readable


def test_latest_extra_value_walks_lineage_and_survives_compaction(spark, tmp_path):
    """The streaming high-water mark must survive (a) interleaved
    non-stream commits (walk parent snapshots) and (b) manifest compaction
    that deletes the snapshot that recorded it (carry-forward into the
    oldest kept manifest)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = spark.createDataFrame([Row(k="a", v=1)])
    tbl.overwrite_partitions(df, "k", extra={"stream_batch_id": 7})
    # two interleaved commits that carry no stream metadata
    tbl.append(spark.createDataFrame([Row(k="b", v=2)]), partition="b")
    tbl.append(spark.createDataFrame([Row(k="c", v=3)]), partition="c")
    assert tbl.snapshot_extra().get("stream_batch_id") is None
    assert tbl.latest_extra_value("stream_batch_id") == 7

    # compact away the snapshot that recorded the mark
    tbl.rewrite_manifests(keep_last=2)
    assert tbl.latest_extra_value("stream_batch_id") == 7


def test_rewrite_manifests_extra_carry_order_past_99999(tmp_path):
    """The orphaned-``extra`` carry loop relies on ascending-sid order
    (later values win). Past sid 99999 the widened filename v100000.json
    sorts lexicographically BEFORE v99999.json — a path-sorted loop would
    let the stale v99999 value overwrite the newer one. Sort by
    _manifest_sid, not by path."""
    import json

    tbl = SnapshotTable(str(tmp_path / "t"))
    # seed a snapshot at sid 99998 (rewriting history like the parse test)
    files = dict(tbl._load(tbl.current_snapshot_id())["files"])
    files["/data/f0.parquet"] = None
    tbl._commit(files)
    snap = tbl._load(1)
    snap["id"] = 99998
    snap["parent"] = 0
    with open(tbl._snap_path(99998), "w") as f:
        json.dump(snap, f)
    os.remove(tbl._snap_path(1))
    with open(os.path.join(tbl.snap_dir, "CURRENT"), "w") as f:
        f.write("99998")

    # 99999 records the OLD mark, 100000 the NEW one, then two plain
    # commits so both markers become doomed under keep_last=2
    for i, extra in ((1, {"stream_batch_id": 3}), (2, {"stream_batch_id": 9}),
                     (3, None), (4, None)):
        files = dict(tbl._load(tbl.current_snapshot_id())["files"])
        files[f"/data/f{i}.parquet"] = None
        tbl._commit(files, extra=extra)
    assert tbl.current_snapshot_id() == 100002

    removed = tbl.rewrite_manifests(keep_last=2)
    assert removed == 3  # v99998 + the two mark-carrying manifests
    # the NEWER mark (sid 100000) must win the carry, not the
    # lexicographically-later v99999
    assert tbl.latest_extra_value("stream_batch_id") == 9


def test_commit_tables_static_partition(spark, tmp_path):
    """One write lands each key's rows in its own table as that table's
    partition; the key column stays out of the files, other partitions
    are kept, footer row counts come back and no staging dir is left."""
    import pytest

    from pyhydroqc_spark.tables import commit_tables

    a = SnapshotTable(str(tmp_path / "a"))
    b = SnapshotTable(str(tmp_path / "b"))
    a.append(spark.createDataFrame([Row(v=0)]), partition="old")
    df = spark.createDataFrame(
        [Row(t="a", v=1), Row(t="a", v=2), Row(t="b", v=3)]
    )
    out = commit_tables(df, "t", {"a": a, "b": b}, partition="p1")
    assert {k: n for k, (_, n) in out.items()} == {"a": 2, "b": 1}
    assert a.partitions() == {"old", "p1"} and b.partitions() == {"p1"}
    assert sorted(r["v"] for r in a.read(spark).collect()) == [0, 1, 2]
    assert b.read(spark).columns == ["v"]
    # a second commit replaces only p1
    commit_tables(df.where("v = 1"), "t", {"a": a, "b": b}, partition="p1")
    assert sorted(r["v"] for r in a.read(spark).collect()) == [0, 1]
    assert b.read(spark) is None
    # a key without a table commits nothing
    sid = a.current_snapshot_id()
    with pytest.raises(ValueError, match="without a table"):
        commit_tables(df, "t", {"a": a}, partition="p1")
    assert a.current_snapshot_id() == sid
    assert not glob.glob(str(tmp_path / "_staging" / "*"))


def test_commit_tables_dynamic_partitions(spark, tmp_path):
    """partition_col form: each table replaces only the values its rows
    carry, in the __part=<value> layout (special chars round-trip), and
    ``extra`` rides every table's manifest."""
    from pyhydroqc_spark.tables import commit_tables

    a = SnapshotTable(str(tmp_path / "a"))
    b = SnapshotTable(str(tmp_path / "b"))
    df = spark.createDataFrame(
        [Row(t=1, d="x 10:00", v=1), Row(t=1, d="y", v=2), Row(t=2, d="y", v=3)]
    )
    commit_tables(df, "t", {1: a, 2: b}, partition_col="d", extra={"k": 7})
    commit_tables(df.where("v = 2"), "t", {1: a, 2: b}, partition_col="d",
                  extra={"k": 8})
    assert a.partitions() == {"x 10:00", "y"} and b.partitions() == {"y"}
    assert sorted(r["v"] for r in a.read(spark).collect()) == [1, 2]
    assert sorted(r["v"] for r in b.read(spark).collect()) == [3]
    assert a.snapshot_extra() == {"k": 8} and b.snapshot_extra() == {"k": 8}
    assert all(
        os.path.basename(os.path.dirname(f)).startswith("__part=") for f in a.files()
    )
    assert set(a.read(spark).columns) == {"d", "v"}
