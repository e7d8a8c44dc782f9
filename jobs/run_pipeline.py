"""spark-submit entry point for the flagship pipeline.

    spark-submit --py-files extractors_geo_spark.zip jobs/run_pipeline.py \
        --images /data/images_parquet --polygons /data/polygons_parquet \
        --out /data/derived --buckets 64 --resume

Stages: decode+stats -> PIP join -> xyz tile assignment (one row per
image, polygon and tile, carrying the caption), written bucket-by-bucket
with the lineage manifest so a killed job resumes where it stopped (north
rule: checkpoint per-partition lineage + metrics).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python jobs/run_pipeline.py` from anywhere works too (the
# spark-submit path provides the package via --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from extractors_geo_spark import datagen  # noqa: E402
from extractors_geo_spark.operators import extract_meta, pip_join, tiles
from extractors_geo_spark.session import get_spark
from extractors_geo_spark.sources import scan
from extractors_geo_spark.streaming.lineage import run_with_lineage


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True, help="parquet dir of the images table")
    ap.add_argument("--polygons", default=None, help="parquet dir of the polygon layer (default: synthetic CONUS quads)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--zooms", default="6,8,10")
    ap.add_argument("--master", default=None)
    ap.add_argument("--waves", type=int, default=1,
                    help="waves: scans per fresh run (crash loses at most buckets/waves of work)")
    args = ap.parse_args()

    spark = get_spark(app_name="extractors_geo_pipeline", master=args.master)
    imgs = scan.read(spark, args.images)
    polys = scan.read(spark, args.polygons) if args.polygons else datagen.polygons_df(spark)
    zooms = tuple(int(z) for z in args.zooms.split(","))

    def transform(part):
        meta = extract_meta.valid_meta(extract_meta.extract_meta(part, with_stats=True))
        joined = pip_join.pip_join(
            meta, polys, point_cols=("image_id", "caption", "phash"),
            poly_cols=("poly_id", "name"),
        )
        flat = joined.select(
            "image_id", "poly_id", "caption",
            (F.col("lon") - 0.008).alias("minx"), (F.col("lat") - 0.008).alias("miny"),
            (F.col("lon") + 0.008).alias("maxx"), (F.col("lat") + 0.008).alias("maxy"),
        )
        # passthrough carries poly_id/caption through the explode — no
        # join-back (which would re-run decode+PIP once per branch and
        # shuffle on image_id)
        return tiles.xyz_tiles(flat, zooms=zooms,
                               passthrough=("image_id", "poly_id", "caption"))

    result = run_with_lineage(imgs, "image_id", args.out, n_buckets=args.buckets,
                              transform=transform, waves=args.waves)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
