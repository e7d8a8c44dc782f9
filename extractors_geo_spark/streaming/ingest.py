"""Streaming ingest with watermarked windowed aggregation (SURVEY.md ST3).

The reference consumes events one at a time with no late-data story; the
engine's streaming ingest adds the standard Structured-Streaming shape:
event stream -> watermark -> tumbling-window per-activity counts (the
per-minute extractor-health counters an operator of the reference fleet
would scrape from RabbitMQ instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import EVENT_SCHEMA


def event_stream(spark: SparkSession, events_dir: str, files_per_trigger: int = 16) -> DataFrame:
    """files_per_trigger bounds the micro-batch; append-mode windowed aggs
    only emit when the watermark advances BETWEEN batches, so a stream
    drained in one giant batch flushes nothing."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )


def windowed_activity_counts(
    stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window counts per activity with late-data watermark.
    State is bounded: windows older than the watermark are evicted."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"), F.col("activity"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "activity", "n",
        )
    )


def image_stream(spark: SparkSession, images_dir: str, files_per_trigger: int = 4) -> DataFrame:
    """Streaming source over an images-table directory — the engine's
    RabbitMQ-consumer analog for the FLAGSHIP path (one micro-batch ≈ one
    burst of file.added messages)."""
    from ..datagen import IMAGE_SCHEMA

    return (
        spark.readStream.schema(IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(images_dir)
    )


def run_streaming_pipeline(
    spark: SparkSession,
    images_dir: str,
    polygons: DataFrame,
    table,
    checkpoint_dir: str,
    zooms: tuple[int, ...] = (8,),
):
    """The flagship decode -> PIP-join -> xyz-tiles chain as Structured
    Streaming: each micro-batch runs the SAME batch operators (mapInArrow
    decode, broadcast cell join, tile explode) and appends an atomic
    snapshot to the derived SnapshotTable via foreachBatch — exactly the
    reference's per-message extract-and-publish loop at micro-batch
    granularity (SURVEY.md §3.1 + ST1). Checkpointing makes redelivered
    batches re-run idempotently (append keyed by batch id is guarded the
    same way removals are)."""
    from pyspark.sql import functions as F

    from ..operators import extract_meta, pip_join, tiles
    from ..plans import planner
    from .removal import applied_batch_ids

    applied = applied_batch_ids(table)

    # the polygon side is FIXED for the stream's life: decide broadcast
    # and rectangle-exactness ONCE here, not with probe jobs every batch
    broadcast_polys = planner.should_broadcast(pip_join.polygon_cells(
        polygons.select("poly_id", "xs", "ys", "minx", "miny", "maxx", "maxy"),
        pip_join.DEFAULT_RES))
    exact = not planner.all_rectangles(polygons)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        bid = f"{checkpoint_dir}:{batch_id}"
        if bid in applied:
            return
        meta = extract_meta.valid_meta(extract_meta.extract_meta(batch, with_stats=False))
        joined = pip_join.pip_join(
            meta, polygons, point_cols=("image_id",), poly_cols=("poly_id",),
            broadcast_polys=broadcast_polys, exact=exact,
        )
        flat = joined.select(
            "image_id", "poly_id",
            (F.col("lon") - 0.008).alias("minx"), (F.col("lat") - 0.008).alias("miny"),
            (F.col("lon") + 0.008).alias("maxx"), (F.col("lat") + 0.008).alias("maxy"),
        )
        out = tiles.xyz_tiles(flat, zooms=zooms, passthrough=("image_id", "poly_id"))
        # append with no pre-check: the DAG (decode + join) must run ONCE
        # per batch — an isEmpty() pre-check would execute the whole
        # pipeline twice. An empty batch commits an empty file list, which
        # is harmless. A lost commit race re-runs it through append's retry.
        table.append(out, summary_extra={"stream_batch_id": bid})
        applied.add(bid)

    return (
        image_stream(spark, images_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_windowed_counts(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    files_per_trigger: int = 16,
):
    """availableNow batch-drain of the stream into a parquet sink."""
    agg = windowed_activity_counts(
        event_stream(spark, events_dir, files_per_trigger), window, watermark
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
