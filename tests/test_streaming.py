"""Structured-Streaming removal propagation (SURVEY.md ST2)."""

import datetime

from pyspark.sql import functions as F

from extractors_geo_spark.datagen import EVENT_SCHEMA
from extractors_geo_spark.sources.snapshot_table import SnapshotTable
from extractors_geo_spark.streaming import removal


def test_propagate_removals(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable(spark, str(tmp_path / "derived"), bucket_key="image_id", n_buckets=8)
    table.overwrite(spark.createDataFrame([(f"i{k}", k) for k in range(20)], ["image_id", "v"]))

    ts = datetime.datetime(2024, 1, 2)
    spark.createDataFrame(
        [("i1", "removed", ts), ("i5", "removed", ts), ("i7", "added", ts)],
        EVENT_SCHEMA,
    ).write.parquet(events_dir)

    q = removal.propagate_removals(spark, events_dir, table, ckpt)
    q.awaitTermination(120)

    left = {r["image_id"] for r in table.read().collect()}
    assert left == {f"i{k}" for k in range(20)} - {"i1", "i5"}
    # the delete commit carried untouched buckets by reference
    snap = table.snapshot()
    assert snap["operation"] == "delete" and snap["summary"]["files_carried"] > 0


def test_propagate_removals_idempotent_second_batch(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable(spark, str(tmp_path / "derived"), bucket_key="image_id", n_buckets=8)
    table.overwrite(spark.createDataFrame([(f"i{k}", k) for k in range(10)], ["image_id", "v"]))
    ts = datetime.datetime(2024, 1, 2)
    spark.createDataFrame([("i3", "removed", ts)], EVENT_SCHEMA).write.parquet(events_dir)

    q = removal.propagate_removals(spark, events_dir, table, ckpt)
    q.awaitTermination(120)
    assert table.read().count() == 9

    # new events arrive; restart with the same checkpoint only processes the delta
    spark.createDataFrame([("i4", "removed", ts)], EVENT_SCHEMA).write.mode("append").parquet(events_dir)
    q2 = removal.propagate_removals(spark, events_dir, table, ckpt)
    q2.awaitTermination(120)
    left = {r["image_id"] for r in table.read().collect()}
    assert left == {f"i{k}" for k in range(10)} - {"i3", "i4"}


def test_propagate_removals_three_batches_touch_only_removed_buckets(spark, tmp_path):
    """VERDICT r01 item 4 'done' criterion: a 3-batch run rewrites only
    files in buckets containing removed keys; everything else carries by
    reference across all three delete snapshots."""
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable(spark, str(tmp_path / "derived"), bucket_key="image_id", n_buckets=8)
    table.overwrite(spark.createDataFrame(
        [(f"img{k:04d}", k) for k in range(400)], ["image_id", "v"]))
    base_files = {f["path"] for f in table.snapshot()["files"]}

    ts = datetime.datetime(2024, 1, 2)
    for batch, victims in enumerate((["img0003"], ["img0111", "img0222"], ["img0333"])):
        spark.createDataFrame([(v, "removed", ts) for v in victims], EVENT_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(events_dir)

    # one file per trigger -> three micro-batches
    stream = (spark.readStream.schema(EVENT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(events_dir))

    def on_batch(batch, batch_id):
        removed = batch.filter(F.col("activity") == "removed").select("image_id").distinct()
        if not removed.isEmpty():
            table.delete_keys(removed, key="image_id",
                              summary_extra={"stream_batch_id": batch_id})

    q = (stream.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(180)

    deletes = [table.snapshot(h["version"]) for h in table.history()
               if h["operation"] == "delete"]
    assert len(deletes) == 3
    for snap in deletes:
        s = snap["summary"]
        assert s["files_rewritten"] <= len(s["buckets_touched"])
        assert s["files_carried"] >= s["files_total"] - len(s["buckets_touched"])
    # untouched base files survive into the final snapshot by reference
    assert {f["path"] for f in table.snapshot()["files"]} & base_files
    left = {r["image_id"] for r in table.read().collect()}
    assert left == {f"img{k:04d}" for k in range(400)} - {"img0003", "img0111", "img0222", "img0333"}


def test_windowed_activity_counts(spark, tmp_path):
    """ST3: watermarked tumbling-window counts over the event stream."""
    import datetime

    from extractors_geo_spark.streaming import ingest

    events_dir = str(tmp_path / "ev")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ck")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    # one file per minute so multi-batch processing advances the watermark
    for m in range(5):
        rows = [(f"i{m}_{k}", "added", base + datetime.timedelta(minutes=m, seconds=k * 10))
                for k in range(3)]
        if m == 1:
            rows.append(("late", "removed", base + datetime.timedelta(minutes=1, seconds=30)))
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(events_dir)

    q = ingest.run_windowed_counts(spark, events_dir, out, ckpt, files_per_trigger=1)
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    added = {(r["win_start"].minute, r["n"]) for r in got.filter(F.col("activity") == "added").collect()}
    # append mode emits only windows the final watermark (max_ts - 2min =
    # minute 2) has closed: windows [0,1) and [1,2)
    assert {(0, 3), (1, 3)}.issubset(added)
    assert all(n == 3 for (_, n) in added)
    rem = got.filter(F.col("activity") == "removed").collect()
    assert all(r["n"] == 1 for r in rem)


def test_removal_fresh_checkpoint_batch_id_collision(spark, tmp_path):
    """ADVICE r02: Spark batch ids restart at 0 for a fresh checkpoint dir;
    a bare-int idempotency key would silently skip a NEW stream's first
    batch because a historical batch 0 exists. Ids are namespaced by the
    checkpoint location, so the second stream's removals must land."""
    table = SnapshotTable(spark, str(tmp_path / "derived"), bucket_key="image_id", n_buckets=4)
    table.overwrite(spark.createDataFrame([(f"i{k}", k) for k in range(10)], ["image_id", "v"]))
    ts = datetime.datetime(2024, 1, 2)

    ev1 = str(tmp_path / "ev1")
    spark.createDataFrame([("i1", "removed", ts)], EVENT_SCHEMA).write.parquet(ev1)
    q = removal.propagate_removals(spark, ev1, table, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    assert table.read().count() == 9

    ev2 = str(tmp_path / "ev2")
    spark.createDataFrame([("i2", "removed", ts)], EVENT_SCHEMA).write.parquet(ev2)
    q2 = removal.propagate_removals(spark, ev2, table, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    left = {r["image_id"] for r in table.read().collect()}
    assert left == {f"i{k}" for k in range(10)} - {"i1", "i2"}


def test_removal_snapshot_metadata_reads_are_o1_per_batch(spark, tmp_path):
    """VERDICT r02 #8: the applied-id set is populated once at stream start,
    not re-derived by re-reading every snapshot JSON on every micro-batch."""
    table = SnapshotTable(spark, str(tmp_path / "derived"), bucket_key="image_id", n_buckets=4)
    table.overwrite(spark.createDataFrame([(f"i{k}", k) for k in range(40)], ["image_id", "v"]))
    ts = datetime.datetime(2024, 1, 2)
    ev = str(tmp_path / "ev")
    # one event per file + maxFilesPerTrigger=8 -> several micro-batches
    for k in range(24):
        spark.createDataFrame([(f"i{k}", "removed", ts)], EVENT_SCHEMA).write.mode(
            "append"
        ).parquet(ev)

    calls = {"history": 0}
    orig_history = table.history

    def counting_history():
        calls["history"] += 1
        return orig_history()

    table.history = counting_history
    q = removal.propagate_removals(spark, ev, table, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert table.read().count() == 16
    # >1 batch ran, but the manifest scan happened exactly once (at start)
    assert table.current_version() >= 3
    assert calls["history"] == 1


def test_streaming_flagship_pipeline(spark, tmp_path):
    """The decode -> PIP -> xyz-tiles flagship as Structured Streaming:
    micro-batches append atomic snapshots; a restart with the same
    checkpoint processes only new files; batch-id guard is idempotent."""
    from extractors_geo_spark import datagen
    from extractors_geo_spark.streaming import ingest as ING

    images_dir = str(tmp_path / "imgs")
    ckpt = str(tmp_path / "ck")
    datagen.images_df(spark, 60, partitions=3).write.parquet(images_dir)
    polys = datagen.polygons_df(spark)
    table = SnapshotTable(spark, str(tmp_path / "tiles_tbl"))

    q = ING.run_streaming_pipeline(spark, images_dir, polys, table, ckpt)
    q.awaitTermination(180)
    n1 = table.read().count()
    assert n1 > 0
    cols = set(table.read().columns)
    assert {"image_id", "poly_id", "z", "x", "y"} <= cols

    # more images arrive; same checkpoint -> only the delta processes
    datagen.images_df(spark, 20, partitions=1).write.mode("append").parquet(images_dir)
    q2 = ING.run_streaming_pipeline(spark, images_dir, polys, table, ckpt)
    q2.awaitTermination(180)
    n2 = table.read().count()
    assert n2 > n1
    # every snapshot came from a distinct batch id (idempotency key)
    bids = [table.snapshot(h["version"]).get("summary", {}).get("stream_batch_id")
            for h in table.history()]
    bids = [b for b in bids if b]
    assert len(bids) == len(set(bids)) and len(bids) >= 2


def test_streaming_flagship_sink_retries_lost_commit(spark, tmp_path):
    """The flagship sink commits through SnapshotTable.append, so a lost
    CAS race (another writer took the version) retries on top of the
    winner instead of failing the stream, and the batch lands once."""
    from extractors_geo_spark import datagen
    from extractors_geo_spark.sources.snapshot_table import CommitConflict
    from extractors_geo_spark.streaming import ingest as ING

    images_dir = str(tmp_path / "imgs")
    datagen.images_df(spark, 60, partitions=1).write.parquet(images_dir)
    table = SnapshotTable(spark, str(tmp_path / "tiles_tbl"))
    commit, lost = table._commit, []

    def commit_losing_first_race(*args, **kwargs):
        if not lost:
            lost.append(args[1])
            raise CommitConflict("another writer took this version")
        return commit(*args, **kwargs)

    table._commit = commit_losing_first_race
    q = ING.run_streaming_pipeline(spark, images_dir, datagen.polygons_df(spark),
                                   table, str(tmp_path / "ck"))
    q.awaitTermination(180)
    assert lost == ["append"]
    snaps = [table.snapshot(h["version"]) for h in table.history()]
    assert [s["operation"] for s in snaps] == ["append"]
    assert "stream_batch_id" in snaps[0]["summary"]
    out = table.read()
    n = out.count()
    assert n > 0 and out.distinct().count() == n
