"""Iceberg-layout snapshot table: append/overwrite/merge/delete/time travel."""

import datetime

import pytest

from extractors_geo_spark.sources.snapshot_table import SnapshotTable


def _ts(s):
    return datetime.datetime.fromisoformat(s)


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "tbl"))


def test_append_and_read(spark, table):
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    v1 = table.append(df1)
    assert v1 == 1 and table.read().count() == 2
    v2 = table.append(spark.createDataFrame([("c", 3)], ["k", "v"]))
    assert v2 == 2 and table.read().count() == 3
    # time travel
    assert table.read(version=1).count() == 2


def test_merge_latest_wins(spark, table):
    table.append(spark.createDataFrame(
        [("a", "old", _ts("2024-01-01")), ("b", "keep", _ts("2024-01-01"))],
        ["k", "v", "updated_at"]))
    table.merge(spark.createDataFrame(
        [("a", "new", _ts("2024-02-01")), ("c", "ins", _ts("2024-02-01"))],
        ["k", "v", "updated_at"]), key="k", order_col="updated_at")
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {"a": "new", "b": "keep", "c": "ins"}
    # previous snapshot untouched
    old = {r["k"]: r["v"] for r in table.read(version=1).collect()}
    assert old == {"a": "old", "b": "keep"}


def test_delete_and_rollback(spark, table):
    table.append(spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["k", "v"]))
    table.delete_keys(spark.createDataFrame([("b",)], ["k"]), key="k")
    assert {r["k"] for r in table.read().collect()} == {"a", "c"}
    table.rollback(1)
    assert {r["k"] for r in table.read().collect()} == {"a", "b", "c"}


def test_history(spark, table):
    table.append(spark.createDataFrame([("a", 1)], ["k", "v"]))
    table.overwrite(spark.createDataFrame([("b", 2)], ["k", "v"]))
    ops = [h["operation"] for h in table.history()]
    assert ops == ["append", "overwrite"]


def test_merge_into_empty(spark, table):
    table.merge(spark.createDataFrame([("a", 1, _ts("2024-01-01"))], ["k", "v", "updated_at"]),
                key="k", order_col="updated_at")
    assert table.read().count() == 1


def _paths(snap):
    return {f["path"] for f in snap["files"]}


def test_bucketed_merge_rewrites_only_touched_files(spark, tmp_path):
    import hashlib

    t = SnapshotTable(spark, str(tmp_path / "btbl"), bucket_key="k", n_buckets=8)
    base = spark.createDataFrame(
        [(f"key{i:04d}", f"v{i}", _ts("2024-01-01")) for i in range(400)],
        ["k", "v", "updated_at"])
    t.overwrite(base)
    snap1 = t.snapshot()
    before = {f["path"]: hashlib.md5(open(f["path"], "rb").read()).hexdigest()
              for f in snap1["files"]}
    assert all(f["bucket"] is not None and f["min_key"] is not None for f in snap1["files"])

    v = t.merge(spark.createDataFrame(
        [("key0001", "NEW", _ts("2024-02-01")), ("brand_new", "INS", _ts("2024-02-01"))],
        ["k", "v", "updated_at"]), key="k", order_col="updated_at")
    snap2 = t.snapshot(v)
    carried = _paths(snap2) & _paths(snap1)
    # most files carried by reference, byte-identical
    assert snap2["summary"]["files_carried"] >= 6
    assert snap2["summary"]["files_rewritten"] <= 2
    for p in carried:
        assert hashlib.md5(open(p, "rb").read()).hexdigest() == before[p]
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got["key0001"] == "NEW" and got["brand_new"] == "INS" and got["key0002"] == "v2"
    assert len(got) == 401
    # time travel still sees the pre-merge table
    assert {r["k"]: r["v"] for r in t.read(version=1).collect()}["key0001"] == "v1"


def test_bucketed_delete_prunes_untouched_buckets(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "dtbl"), bucket_key="k", n_buckets=8)
    t.overwrite(spark.createDataFrame([(f"key{i:04d}", i) for i in range(400)], ["k", "v"]))
    snap1 = t.snapshot()
    v = t.delete_keys(spark.createDataFrame([("key0007",), ("key0123",)], ["k"]), key="k")
    snap2 = t.snapshot(v)
    assert snap2["summary"]["files_carried"] >= 5
    assert _paths(snap2) & _paths(snap1)  # carried by reference
    keys = {r["k"] for r in t.read().collect()}
    assert len(keys) == 398 and "key0007" not in keys and "key0123" not in keys


def test_minmax_prune_skips_disjoint_files(spark, tmp_path):
    # two keys in the SAME bucket but different files: min/max stats prune
    # the file whose range can't contain the update key
    t = SnapshotTable(spark, str(tmp_path / "mtbl"), bucket_key="k", n_buckets=1)
    t.append(spark.createDataFrame([("aaa", 1), ("abb", 2)], ["k", "v"]))
    t.append(spark.createDataFrame([("zzz", 3), ("zyy", 4)], ["k", "v"]))
    v = t.delete_keys(spark.createDataFrame([("zzz",)], ["k"]), key="k")
    snap = t.snapshot(v)
    assert snap["summary"]["files_rewritten"] == 1
    assert {r["k"] for r in t.read().collect()} == {"aaa", "abb", "zyy"}


def test_binary_key_never_wrongly_pruned(spark, tmp_path):
    # ADVICE r02: collected binary keys (bytearray) and footer stats (bytes)
    # str()-normalized to different images, so the range check could prune a
    # file that contains the touched key. Binary keys must disable min/max
    # pruning (bucket pruning still applies) and the delete must land.
    t = SnapshotTable(spark, str(tmp_path / "btbl"), bucket_key="k", n_buckets=1)
    rows = [(bytes([i, i + 1, i + 2]), i) for i in range(30)]
    t.append(spark.createDataFrame(rows, "k binary, v int"))
    t.append(spark.createDataFrame([(bytes([200, 201, 202]), 99)], "k binary, v int"))
    victim = bytes([5, 6, 7])
    t.delete_keys(spark.createDataFrame([(victim,)], "k binary"), key="k")
    left = {bytes(r["k"]) for r in t.read().collect()}
    assert victim not in left and len(left) == 30


def test_expire_snapshots_reclaims_files(spark, tmp_path):
    import os

    t = SnapshotTable(spark, str(tmp_path / "gtbl"), bucket_key="k", n_buckets=4)
    t.overwrite(spark.createDataFrame([(f"key{i:03d}", i) for i in range(64)], ["k", "v"]))
    for i in range(8):
        t.delete_keys(spark.createDataFrame([(f"key{i:03d}",)], ["k"]), key="k")
    assert t.current_version() == 9
    gens_before = len(os.listdir(os.path.join(t.root, "data")))
    res = t.expire_snapshots(retain_last=2)
    assert res["expired_versions"] == list(range(1, 8))
    # retained versions still read correctly (time travel intact)
    assert t.read().count() == 56
    assert t.read(version=8).count() == 57
    # expired manifests are gone
    assert len(t.history()) == 2
    # some data generations were reclaimed on disk
    gens_after = len(os.listdir(os.path.join(t.root, "data")))
    assert gens_after < gens_before
    # every file referenced by retained snapshots still exists
    for v in (8, 9):
        for f in t.snapshot(v)["files"]:
            assert os.path.exists(f["path"])


def test_expire_snapshots_spares_inflight_generation(spark, tmp_path):
    """A CAS committer writes its data generation BEFORE its manifest, so an
    unreferenced generation for version current+1 may be an in-flight commit.
    Expiry must only reclaim generations at or below the newest expired
    version (ADVICE r4)."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "itbl"), bucket_key="k", n_buckets=2)
    for gen in range(5):
        t.append(spark.createDataFrame([(f"k{gen}{i}", i) for i in range(4)], ["k", "v"]))
    cur = t.current_version()
    # simulate an in-flight commit: files on disk, manifest not yet written
    inflight = os.path.join(t.root, "data", f"{cur + 1:06d}-deadbeef")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not-yet-committed")
    # and an old CAS-loser orphan from an already-expired version
    orphan = os.path.join(t.root, "data", "000002-0badf00d")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as fh:
        fh.write(b"abandoned")
    res = t.expire_snapshots(retain_last=2)
    assert res["expired_versions"]  # something actually expired
    assert os.path.isdir(inflight)  # in-flight generation untouched
    assert not os.path.isdir(orphan)  # stale orphan reclaimed
    # non-generation dirs are ignored, not crashed on
    assert t.read().count() == 20


def test_compact_merges_fragmented_buckets(spark, tmp_path):
    """rewrite_data_files analog: a delete-heavy history fragments buckets
    into a file per commit; compact() merges them, preserves content
    byte-for-byte, and expire_snapshots reclaims the fragments."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "ctbl"), bucket_key="k", n_buckets=2)
    for gen in range(6):
        t.append(spark.createDataFrame(
            [(f"key{gen:02d}{i:02d}", gen * 100 + i) for i in range(20)], ["k", "v"]))
    before = t.snapshot()
    assert len(before["files"]) >= 10  # fragmented: ~2 files per append
    want = {(r["k"], r["v"]) for r in t.read().collect()}

    v = t.compact()
    snap = t.snapshot(v)
    assert snap["operation"] == "compact"
    assert len(snap["files"]) <= 2  # one file per bucket
    assert {(r["k"], r["v"]) for r in t.read().collect()} == want
    # time travel to pre-compact still works until expiry
    assert t.read(version=v - 1).count() == 120
    res = t.expire_snapshots(retain_last=1)
    assert res["removed_files"] >= 10
    assert {(r["k"], r["v"]) for r in t.read().collect()} == want
    # a second compact on an already-compact table is a no-op
    assert t.compact() == t.current_version()


def test_metadata_on_subtree_filesystem(spark, tmp_path):
    """VERDICT r03 #4 done-criterion: all VERSION/snapshot metadata IO
    routes through an explicit pyarrow FileSystem — here a
    SubTreeFileSystem — while Spark keeps writing the data files."""
    from pyarrow import fs as pafs

    root = tmp_path / "subtbl"
    root.mkdir()
    sub = pafs.SubTreeFileSystem(str(root), pafs.LocalFileSystem())
    t = SnapshotTable(spark, str(root), bucket_key="k", n_buckets=4,
                      metadata_fs=sub, metadata_root="")
    t.append(spark.createDataFrame(
        [("a", 1, _ts("2024-01-01")), ("b", 2, _ts("2024-01-01"))],
        ["k", "v", "updated_at"]))
    t.merge(spark.createDataFrame([("a", 9, _ts("2024-02-01"))], ["k", "v", "updated_at"]),
            key="k", order_col="updated_at")
    assert t.current_version() == 2
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 9, "b": 2}
    # metadata physically landed under the subtree root
    import os
    assert os.path.exists(root / "VERSION")
    assert os.path.exists(root / "snapshots" / "v000002.json")
    # a second handle over the same subtree sees the committed state
    t2 = SnapshotTable(spark, str(root), bucket_key="k", n_buckets=4,
                       metadata_fs=pafs.SubTreeFileSystem(str(root), pafs.LocalFileSystem()),
                       metadata_root="")
    assert t2.current_version() == 2 and t2.read().count() == 2


def test_concurrent_committers_linearize(spark, tmp_path):
    """VERDICT r03 #5 done-criterion: two interleaved committers (two
    table handles, merge vs merge race) never lose a snapshot — every
    upsert survives and versions are a contiguous linear history."""
    import threading

    root = str(tmp_path / "race")
    t1 = SnapshotTable(spark, root, bucket_key="k", n_buckets=4)
    t2 = SnapshotTable(spark, root, bucket_key="k", n_buckets=4)
    t1.overwrite(spark.createDataFrame([(f"k{i}", 0, _ts("2024-01-01")) for i in range(8)],
                                       ["k", "v", "updated_at"]))
    barrier = threading.Barrier(2)
    errs = []

    def committer(t, lo, hi, tag):
        try:
            barrier.wait()
            for i in range(lo, hi):
                t.merge(spark.createDataFrame([(f"k{i}", 100 + i, _ts("2024-02-01"))],
                                              ["k", "v", "updated_at"]),
                        key="k", order_col="updated_at", summary_extra={"writer": tag})
        except Exception as e:  # surfaced below — a thread must not die silently
            errs.append((tag, repr(e)))

    th1 = threading.Thread(target=committer, args=(t1, 0, 4, "w1"))
    th2 = threading.Thread(target=committer, args=(t2, 4, 8, "w2"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert errs == []
    # linear history: contiguous versions, one per commit (1 overwrite + 8 merges)
    versions = [h["version"] for h in t1.history()]
    assert versions == list(range(1, 10))
    # no lost update: every merged value survived both writers
    got = {r["k"]: r["v"] for r in t1.read().collect()}
    assert got == {f"k{i}": 100 + i for i in range(8)}


def test_rollback_is_new_snapshot(spark, table):
    """Rollback commits a NEW snapshot referencing the old files, so a
    concurrent committer can never collide with a re-used version."""
    table.append(spark.createDataFrame([("a", 1)], ["k", "v"]))
    table.overwrite(spark.createDataFrame([("b", 2)], ["k", "v"]))
    v = table.rollback(1)
    assert v == 3 and table.current_version() == 3
    assert {r["k"] for r in table.read().collect()} == {"a"}
    ops = [h["operation"] for h in table.history()]
    assert ops == ["append", "overwrite", "rollback"]


def test_file_uri_root(spark, tmp_path):
    """A file:// URI root exercises the pyarrow FileSystem.from_uri path
    for metadata while Spark reads/writes the same URI natively — the
    local stand-in for an object-store deployment."""
    root = f"file://{tmp_path}/uritbl"
    t = SnapshotTable(spark, root, bucket_key="k", n_buckets=4)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]))
    t.delete_keys(spark.createDataFrame([("a",)], ["k"]), key="k")
    assert t.current_version() == 2
    assert {r["k"] for r in t.read().collect()} == {"b"}
    # metadata landed under the physical path
    import os
    assert os.path.exists(tmp_path / "uritbl" / "VERSION")
    assert os.path.exists(tmp_path / "uritbl" / "snapshots" / "v000002.json")


def test_merge_schema_evolution(spark, tmp_path):
    """Additive schema evolution: a merge batch with a NEW column upserts
    cleanly; old rows read the new column as NULL (mergeSchema read);
    a batch MISSING a column leaves existing values subject to
    latest-wins on the key. Bucketed path included."""
    t = SnapshotTable(spark, str(tmp_path / "evtbl"), bucket_key="k", n_buckets=4)
    t.overwrite(spark.createDataFrame(
        [("a", 1, _ts("2024-01-01")), ("b", 2, _ts("2024-01-01"))],
        ["k", "v", "updated_at"]))
    # batch ADDS column 'extra'
    t.merge(spark.createDataFrame(
        [("a", 10, _ts("2024-02-01"), "x"), ("c", 30, _ts("2024-02-01"), "y")],
        ["k", "v", "updated_at", "extra"]),
        key="k", order_col="updated_at")
    got = {r["k"]: (r["v"], r["extra"]) for r in t.read().collect()}
    assert got == {"a": (10, "x"), "b": (2, None), "c": (30, "y")}
    # batch MISSING 'extra' still merges (extra becomes NULL for its keys)
    t.merge(spark.createDataFrame(
        [("c", 31, _ts("2024-03-01"))], ["k", "v", "updated_at"]),
        key="k", order_col="updated_at")
    got = {r["k"]: (r["v"], r["extra"]) for r in t.read().collect()}
    assert got["c"] == (31, None) and got["a"] == (10, "x")


def test_overwrite_with_summary_extra_commits_once(spark, table, monkeypatch):
    """overwrite(df, summary_extra=...) writes the extra keys in its own
    commit: no committed snapshot manifest is rewritten after the fact."""
    from extractors_geo_spark import fs as xfs

    replaced = []
    replace_text = xfs.replace_text

    def spy_replace_text(fs, path, text):
        replaced.append(path)
        return replace_text(fs, path, text)

    monkeypatch.setattr(xfs, "replace_text", spy_replace_text)
    v = table.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]),
                        summary_extra={"note": {"rows": 2}})
    assert [p for p in replaced if "snapshots/" in p] == []
    snap = table.snapshot(v)
    assert snap["operation"] == "overwrite" and snap["summary"]["note"] == {"rows": 2}
    assert table.read().count() == 2


def test_snapshot_zero_is_the_empty_table(spark, table):
    """Version 0 is the empty table, not an alias for the latest one."""
    table.append(spark.createDataFrame([("a", 1)], ["k", "v"]))
    table.append(spark.createDataFrame([("b", 2)], ["k", "v"]))
    assert table.snapshot(0)["files"] == []
    with pytest.raises(ValueError, match="empty table"):
        table.read(version=0)


def test_manifest_with_pending_deletes_is_refused(spark, table):
    """A manifest from an older build that still lists merge-on-read
    delete files must fail loudly: scanning its data files alone would
    bring the deleted rows back."""
    import json

    table.append(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]))
    snap = table.snapshot()
    snap["deletes"] = [{"path": "/gone/delete.parquet", "kind": "eq", "seq": 2}]
    with open(table._snapshot_path(1), "w") as fh:
        json.dump(snap, fh)
    with pytest.raises(ValueError, match="merge-on-read"):
        table.read()
    # an empty list is what older builds wrote when nothing was pending
    snap["deletes"] = []
    with open(table._snapshot_path(1), "w") as fh:
        json.dump(snap, fh)
    assert table.read().count() == 2
