"""Cost of pip_join's exact refine as polygons grow in vertices and rings.

The benchmark's polygon layer (datagen.polygons_df) is 50 single-ring
quads of 5 vertices. Real shapefile/geojson/geopackage layers carry
hundreds to thousands of vertices per polygon and multipolygons of many
rings, and the refine's work grows with the edges of every candidate
pair. This tool builds such layers from the same quads:

  dense:  each quad edge subdivided into k segments (4k + 1 vertices,
          same shape, same matches)
  rings:  each quad split into an r x r lattice of islands, one 5-vertex
          ring each, carried through `ring_lens` (r*r rings)

and times pip_join(exact=True) over seeded uniform CONUS points, to a
count. Per layer it prints one JSON line: process-tree CPU (driver JVM +
Python workers) and wall, median of --reps runs after one warm-up, and
the match count (equal across code versions that agree).

    python tools/refine_bench.py --points 4000 --reps 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from extractors_geo_spark import datagen  # noqa: E402
from extractors_geo_spark.operators import pip_join  # noqa: E402
from extractors_geo_spark.session import get_spark  # noqa: E402
from perfbench.trace import tree_cpu_s  # noqa: E402

LAYER_SCHEMA = ("poly_id string, xs array<double>, ys array<double>, ring_lens array<int>, "
                "minx double, miny double, maxx double, maxy double")


def dense_rows(k: int) -> list[tuple]:
    """The datagen quads with every edge cut into k equal segments."""
    rows = []
    for q in datagen.make_polygons().itertuples():
        xs, ys = [], []
        for i in range(4):
            t = np.arange(k) / k
            xs += list(q.xs[i] + (q.xs[i + 1] - q.xs[i]) * t)
            ys += list(q.ys[i] + (q.ys[i + 1] - q.ys[i]) * t)
        xs.append(q.xs[0])
        ys.append(q.ys[0])
        rows.append((q.poly_id, [float(v) for v in xs], [float(v) for v in ys], [len(xs)],
                     q.minx, q.miny, q.maxx, q.maxy))
    return rows


def ring_rows(r: int) -> list[tuple]:
    """Each quad's bbox as an r x r lattice of islands (80% of a lattice
    cell each), one multipolygon per quad."""
    rows = []
    for q in datagen.make_polygons().itertuples():
        dx, dy = (q.maxx - q.minx) / r, (q.maxy - q.miny) / r
        xs, ys = [], []
        for i in range(r):
            for j in range(r):
                x0, y0 = q.minx + i * dx, q.miny + j * dy
                x1, y1 = x0 + 0.8 * dx, y0 + 0.8 * dy
                xs += [x0, x1, x1, x0, x0]
                ys += [y0, y0, y1, y1, y0]
        rows.append((q.poly_id, [float(v) for v in xs], [float(v) for v in ys], [5] * (r * r),
                     q.minx, q.miny, q.maxx, q.maxy))
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--points", type=int, default=4000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--res", type=int, default=pip_join.DEFAULT_RES, help="join cell resolution")
    ap.add_argument("--dense", default="1,10,100,1000", help="edge subdivisions k, comma list")
    ap.add_argument("--rings", default="4,16,50", help="lattice sides r, comma list")
    a = ap.parse_args()

    spark = get_spark(master=a.master, shuffle_partitions=4)
    rng = np.random.default_rng(0)
    minx, miny, maxx, maxy = datagen.CONUS
    pts = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(
            rng.uniform(minx, maxx, a.points), rng.uniform(miny, maxy, a.points)))],
        "image_id string, lon double, lat double").repartition(4).cache()
    pts.count()

    layers = [(f"dense_k{k}", dense_rows(k)) for k in map(int, a.dense.split(",") if a.dense else [])]
    layers += [(f"rings_r{r}", ring_rows(r)) for r in map(int, a.rings.split(",") if a.rings else [])]
    for name, rows in layers:
        layer = spark.createDataFrame(rows, LAYER_SCHEMA).cache()
        layer.count()
        cpu, wall, n = [], [], None
        for rep in range(a.reps + 1):
            c0, w0 = tree_cpu_s(os.getpid()), time.perf_counter()
            n = pip_join.pip_join(pts, layer, poly_cols=("poly_id",), exact=True,
                                  broadcast_polys=True, res=a.res).count()
            if rep:  # the first run warms the JIT and the Python workers
                cpu.append(tree_cpu_s(os.getpid()) - c0)
                wall.append(time.perf_counter() - w0)
        layer.unpersist()
        print(json.dumps({
            "layer": name, "vertices_per_poly": len(rows[0][1]), "rings_per_poly": len(rows[0][3]),
            "matches": n, "cpu_s": round(statistics.median(cpu), 3),
            "wall_s": round(statistics.median(wall), 3),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
