"""Benchmark harness — prints ONE JSON line per the driver contract.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
image pipeline (synthetic image+caption table -> GeoTIFF decode ->
footprint -> geocell -> PIP join -> tile assignment) whose throughput in
images/sec is the BASELINE.json target metric.

Usage: python bench.py            (full bench, one JSON line to stdout)
       python bench.py --pipeline-only N    (used by tools/scaling_bench.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

import __spark_entry__ as E
from extractors_geo_spark import datagen
from extractors_geo_spark.functions import geo
from extractors_geo_spark.operators import extract_meta, pip_join, tiles
from extractors_geo_spark.session import get_spark

# the r4-comparable set: stable since round 4, used for round-over-round
# regression comparison (reported as `comparable_total` alongside the full
# total so driver BENCH files are directly comparable — VERDICT r5 #6)
COMPARABLE = (
    "merc_extent", "cell_encode", "cell_density", "pip_join", "knn",
    "tile_assign", "removal_antijoin", "catalog_upsert", "asof_join",
    "sessionize", "band_stats", "exact_dedup", "minhash", "simhash",
    "ngram_jaccard", "embedding_topk", "token_counts", "quality",
)

HEADLINE = COMPARABLE + (
    # r5 breadth (VERDICT r4 #8): the most expensive oracle-gated paths —
    # the north-star capstone, the tile pyramid, and a decode-heavy
    # transform-coded video query — regression-guarded round over round
    "flagship_pip", "tile_pyramid", "h264_frames",
)


def warmup(spark) -> None:
    """Spin up the Python worker pool + JIT before timing: steady-state
    throughput is the metric (a 1000-executor cluster amortizes worker
    start over hours); without this, local[N] cold-start (~0.5 s pandas
    import per forked worker, serialized through the daemon) scales WITH N
    and poisons the scaling-efficiency measurement. The warmup runs the
    FULL pipeline shape twice: chained python stages run two workers per
    task, so a single-stage warmup only initializes half the pool."""
    cores = int(spark.sparkContext.defaultParallelism)
    for _ in range(2):
        image_pipeline(spark, cores * 64)


def image_pipeline(spark, n_images: int) -> tuple[float, int]:
    """End-to-end flagship: returns (seconds, rows_out)."""
    cores = int(spark.sparkContext.defaultParallelism)
    t0 = time.time()
    # partitions == cores: the stage is narrow and balanced by construction;
    # more partitions only adds per-task python overhead (measured)
    imgs = datagen.images_df(spark, n_images, partitions=cores)
    meta = extract_meta.valid_meta(extract_meta.extract_meta(imgs, with_stats=True, passthrough=("phash",)))
    polys = datagen.polygons_df(spark)
    joined = pip_join.pip_join(
        meta, polys, point_cols=("image_id", "phash"), poly_cols=("poly_id", "name")
    )
    flat = joined.select(
        "image_id", "poly_id",
        (F.col("lon") - 0.008).alias("minx"), (F.col("lat") - 0.008).alias("miny"),
        (F.col("lon") + 0.008).alias("maxx"), (F.col("lat") + 0.008).alias("maxy"),
    )
    assigned = tiles.xyz_tiles(flat, zooms=(8,))
    n = assigned.count()
    return time.time() - t0, n


def lineage_bench(spark, n_images: int, buckets: int) -> dict:
    """Flagship pipeline over a STORED images table through
    run_with_lineage: one fresh run, timed."""
    import shutil
    import tempfile

    from extractors_geo_spark.streaming.lineage import run_with_lineage

    cores = int(spark.sparkContext.defaultParallelism)
    work = tempfile.mkdtemp(prefix="lineage_bench_")
    src = os.path.join(work, "images")
    datagen.images_df(spark, n_images, partitions=cores).write.parquet(src)
    polys = datagen.polygons_df(spark)

    def transform(part):
        meta = extract_meta.valid_meta(
            extract_meta.extract_meta(part, with_stats=True, passthrough=("phash",))
        )
        joined = pip_join.pip_join(
            meta, polys, point_cols=("image_id", "phash"), poly_cols=("poly_id", "name")
        )
        flat = joined.select(
            "image_id", "poly_id",
            (F.col("lon") - 0.008).alias("minx"), (F.col("lat") - 0.008).alias("miny"),
            (F.col("lon") + 0.008).alias("maxx"), (F.col("lat") + 0.008).alias("maxy"),
        )
        return tiles.xyz_tiles(flat, zooms=(8,), passthrough=("image_id", "poly_id"))

    warmup(spark)
    sc = spark.sparkContext
    sc.setJobGroup("lineage-bench", "run_with_lineage")
    t0 = time.time()
    try:
        r = run_with_lineage(spark.read.parquet(src), "image_id", os.path.join(work, "out"),
                             n_buckets=buckets, transform=transform)
    finally:
        sc.setJobGroup(None, None)
    sec = time.time() - t0
    shutil.rmtree(work, ignore_errors=True)
    # the write stage is the last stage the group ran (AQE sizes it)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup("lineage-bench")
              for s in tracker.getJobInfo(j).stageIds]
    return {"images": n_images, "buckets": buckets, "seconds": round(sec, 3),
            "scans": r["scans"], "images_per_sec": round(n_images / sec, 1),
            "rows": r["rows"], "write_tasks": tracker.getStageInfo(max(stages)).numTasks}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench", master=f"local[{cpus}]")

    if len(sys.argv) > 1 and sys.argv[1] == "--pipeline-only":
        n_images = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
        warmup(spark)
        sec, rows = image_pipeline(spark, n_images)
        print(json.dumps({"images": n_images, "seconds": round(sec, 3),
                          "images_per_sec": round(n_images / sec, 1), "rows_out": rows}))
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "--lineage-bench":
        # resume-path cost: the stored-table pipeline through
        # run_with_lineage (VERDICT r02 #1)
        n_images = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
        buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 16
        print(json.dumps(lineage_bench(spark, n_images, buckets)))
        spark.stop()
        return

    warmup(spark)
    qs = E.queries()
    # min-of-R per query with INTERLEAVED rounds (VERDICT r02 #2): this VM
    # is shared-tenancy and drifts tens of percent between minutes, so
    # back-to-back repeats share the same bad weather; round-robin spreads
    # each query's repeats across the whole bench window.
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    pipe_samples: list[float] = []
    n_images = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "20000"))
    for _ in range(rounds):
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
        sec, _ = image_pipeline(spark, n_images)
        pipe_samples.append(sec)
    timings = {name: round(min(ts), 3) for name, ts in samples.items()}
    pipe_sec = min(pipe_samples)
    timings["image_pipeline"] = round(pipe_sec, 3)

    total = round(sum(timings.values()), 3)
    comparable_total = round(
        sum(timings[n] for n in COMPARABLE) + timings["image_pipeline"], 3)
    print(json.dumps({
        "metric": "headline_queries_plus_image_pipeline_wall_seconds",
        "value": total,
        "unit": "sec",
        "comparable_total": comparable_total,
        "queries": timings,
        "sf": sf_dir,
        "images": n_images,
        "images_per_sec": round(n_images / pipe_sec, 1),
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
