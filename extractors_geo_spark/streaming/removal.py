"""Streaming removal propagation — the file.removed path as Structured
Streaming (SURVEY.md ST2).

The reference tears down derived artifacts when a 'removed' activity
arrives (preview.geotiff/ncsa.geo.tiff.py:41-66, layer+store delete at
:154-170). Here: an append-only event stream is read with readStream;
each micro-batch commits a DELETE SNAPSHOT to the derived SnapshotTable
via foreachBatch.

Scale design (vs a naive full-table rewrite per batch):
  * the table is bucketed by the removal key, so a delete batch rewrites
    ONLY the data files whose bucket (and min/max key range) can contain
    a removed key — every other file carries into the new snapshot by
    reference (see sources/snapshot_table.py);
  * the commit is an atomic VERSION pointer flip — a crash mid-batch
    leaves the previous snapshot fully readable (no torn table);
  * batches are idempotent per batch_id: a re-delivered micro-batch
    (crash after commit, before checkpoint ack) is skipped, so the
    stream is exactly-once on the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import EVENT_SCHEMA
from ..sources.snapshot_table import SnapshotTable


def removal_stream(spark: SparkSession, events_dir: str):
    """File-source stream of event rows (image_id, activity, ts)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_dir)
    )


def applied_batch_ids(table: SnapshotTable) -> set:
    """The `stream_batch_id`s already committed to `table` — the
    idempotency set of every foreachBatch sink. One O(versions) scan of
    the snapshot manifests — call ONCE at stream start, then maintain the
    set in memory (a per-micro-batch rescan is O(V^2) file reads over the
    stream's life, all driver-side)."""
    out = set()
    for h in table.history():
        s = table.snapshot(h["version"]).get("summary", {})
        if "stream_batch_id" in s:
            out.add(s["stream_batch_id"])
    return out


def propagate_removals(
    spark: SparkSession,
    events_dir: str,
    table: SnapshotTable | str,
    checkpoint_dir: str,
    key: str = "image_id",
):
    """Start a stream that commits delete snapshots to the derived table on
    each micro-batch. Returns the StreamingQuery (caller awaits/stops).

    `table` is a SnapshotTable bucketed on `key` (or its root path).
    Watermarking isn't needed for deletes (late 'removed' events still
    delete — removal is monotone); a re-add after removal is handled by
    the batch apply_removals (last-event-wins) when tables are rebuilt."""
    if isinstance(table, str):
        table = SnapshotTable(spark, table, bucket_key=key)

    # Populated once; updated in memory per commit. Ids are namespaced by
    # the checkpoint location: Spark batch ids restart at 0 for a fresh
    # checkpoint dir, so a bare integer would make a NEW stream's batches
    # collide with history and be silently skipped (ADVICE r02).
    applied = applied_batch_ids(table)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        bid = f"{checkpoint_dir}:{batch_id}"
        # NO bare-int legacy fallback: it would re-create the cross-stream
        # collision this namespacing fixes (a fresh checkpoint's batch 0
        # silently skipped because some old stream once committed 0).
        # Re-applying a legacy-committed delete batch is idempotent —
        # dropping one is data loss.
        if bid in applied:
            return  # re-delivered batch: already committed
        removed = batch.filter(F.col("activity") == "removed").select(key).distinct()
        if removed.isEmpty():
            return
        table.delete_keys(removed, key=key, summary_extra={"stream_batch_id": bid})
        applied.add(bid)

    return (
        removal_stream(spark, events_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
