"""PIP join vs brute-force double loop (SURVEY.md §5 item 4) across all
physical variants: broadcast, partitioned, salted, adaptive-split."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from extractors_geo_spark.functions import geo
from extractors_geo_spark.operators import cells, extract_meta, pip_join
from extractors_geo_spark.plans import planner


@pytest.fixture(scope="module")
def points(spark, images_small):
    return (
        extract_meta.valid_meta(extract_meta.extract_meta(images_small, with_stats=False))
        .select("image_id", "lon", "lat")
        .cache()
    )


@pytest.fixture(scope="module")
def expected_pairs(points, polygons):
    pts = points.collect()
    pls = polygons.collect()
    exp = set()
    for p in pts:
        for q in pls:
            ring = np.array(list(zip(q["xs"], q["ys"])))
            if geo.point_in_ring_np(np.array([p["lon"]]), np.array([p["lat"]]), ring)[0]:
                exp.add((p["image_id"], q["poly_id"]))
    return exp


def _pairs(df):
    return {(r["image_id"], r["poly_id"]) for r in df.collect()}


def test_broadcast_variant(points, polygons, expected_pairs):
    got = _pairs(pip_join.pip_join(points, polygons, broadcast_polys=True))
    assert got == expected_pairs


def test_partitioned_variant(points, polygons, expected_pairs):
    got = _pairs(pip_join.pip_join(points, polygons, broadcast_polys=False))
    assert got == expected_pairs


def test_salted_variant(points, polygons, expected_pairs):
    got = _pairs(pip_join.pip_join(points, polygons, broadcast_polys=False, salt=4))
    assert got == expected_pairs


def test_every_point_in_exactly_one_polygon(points, polygons):
    out = pip_join.pip_join(points, polygons)
    counts = out.groupBy("image_id").count().select(F.collect_set("count").alias("s")).first()["s"]
    assert counts == [1]  # the jittered lattice partitions CONUS


def test_resolution_invariance(points, polygons, expected_pairs):
    for res in (4, 8):
        got = _pairs(pip_join.pip_join(points, polygons, res=res))
        assert got == expected_pairs


def test_planner_broadcast_decision(points, polygons):
    pcs = pip_join.polygon_cells(polygons)
    assert planner.should_broadcast(pcs) is True
    assert planner.should_broadcast(pcs, limit=3) is False


def test_salt_factor(spark):
    density = spark.createDataFrame([(1, 10_000_000), (2, 100)], ["cell", "n"])
    assert planner.salt_factor(density, target_rows_per_task=2_000_000) == 5
    assert planner.salt_factor(density.filter(F.col("n") < 1000)) == 1


def test_split_hot_cells_preserves_pip(spark, points, polygons, expected_pairs):
    """Adaptive cell-splitting: hot cells re-encode finer; joining against
    a polygon side exploded at BOTH resolutions keeps results identical."""
    res = 6
    tagged = pip_join.tag_point_cells(points, res=res)
    density = cells.cell_density(tagged)
    split = planner.split_hot_cells(tagged, density, hot_threshold=5)
    pcs = pip_join.polygon_cells(polygons, res=res).unionByName(
        pip_join.polygon_cells(polygons, res=res + 1)
    )
    joined = split.join(F.broadcast(pcs), "cell").filter(
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    )
    refined = pip_join._raycast_refine(joined, "lon", "lat")
    got = {(r["image_id"], r["poly_id"]) for r in
           refined.select("image_id", "poly_id").dropDuplicates().collect()}
    assert got == expected_pairs


def _brute_inside(px, py, xs, ys, ring_lens):
    """Even-odd over every ring = XOR of the per-ring point_in_ring_np."""
    inside, s = False, 0
    for n in ring_lens or [len(xs)]:
        ring = np.array(list(zip(xs[s:s + n], ys[s:s + n]))).reshape(-1, 2)
        inside ^= bool(geo.point_in_ring_np(np.array([px]), np.array([py]), ring)[0])
        s += n
    return inside


@pytest.mark.parametrize("broadcast", [True, False])
def test_refine_parity_on_multi_ring_and_edge_cases(spark, broadcast):
    """The Catalyst ray cast agrees with brute-force point_in_ring_np on
    holes and multipolygon parts carried by ring_lens, on points exactly at
    a horizontal edge's y and on vertices (ANSI mode: a zero divisor would
    raise), on points and vertices on cell-row boundaries, and finds no
    match in a ring of fewer than 2 vertices."""
    def sq(x0, y0, x1, y1):
        return [float(v) for v in (x0, x1, x1, x0, x0)], [float(v) for v in (y0, y0, y1, y1, y0)]

    holed = [a + b for a, b in zip(sq(0, 0, 10, 10), sq(3, 3, 7, 7))]
    parts = [a + b for a, b in zip(sq(20, 0, 24, 4), sq(30, 0, 34, 4))]
    polys = [
        ("holed", *holed, [5, 5]),
        ("parts", *parts, [5, 5]),
        # parallelogram: horizontal edges at y=0 and y=5
        ("slant", [12.0, 18.0, 19.0, 13.0, 12.0], [0.0, 0.0, 5.0, 5.0, 0.0], None),
        ("dot", [5.0], [5.0], [1]),
        ("dot_ring", *[a + [5.0] for a in sq(0, 0, 10, 10)], [5, 1]),
        # an empty ring_lens is one whole ring, like NULL
        ("empty_lens", *sq(40, 0, 44, 4), []),
        # vertices on res-4 cell-row boundaries (lat 0 and 11.25): the
        # per-row edge lists must keep every edge a point there can cross
        ("band", [50.0, 55.0, 50.0, 45.0, 50.0], [0.0, 11.25, 22.5, 11.25, 0.0], None),
    ]
    rows = [(pid, xs, ys, lens, min(xs), min(ys), max(xs), max(ys))
            for pid, xs, ys, lens in polys]
    layer = spark.createDataFrame(
        rows, "poly_id string, xs array<double>, ys array<double>, ring_lens array<int>, "
              "minx double, miny double, maxx double, maxy double")
    # every integer and half-integer point: vertices, edges, hole, gap
    grid = [(f"p{i}_{j}", i / 2.0, j / 2.0) for i in range(-2, 112) for j in range(-2, 24)]
    grid += [(f"b{i}", i / 4.0, 11.25) for i in range(176, 224)]
    pts = spark.createDataFrame(grid, "image_id string, lon double, lat double")
    want = {(pid, pid_poly) for pid, x, y in grid for pid_poly, xs, ys, lens, *_ in rows
            if _brute_inside(x, y, xs, ys, lens)}
    assert ("p4_4", "holed") in want and ("p10_10", "holed") not in want
    assert not any(poly == "dot" for _, poly in want)
    assert ("p82_2", "empty_lens") in want
    assert ("b190", "band") in want and ("b200", "band") in want
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = _pairs(pip_join.pip_join(pts, layer, poly_cols=("poly_id",), exact=True,
                                       broadcast_polys=broadcast, res=4))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == want


def test_refine_parity_on_many_rings(spark):
    """A multipolygon of 2,000 rings (a lattice of islands, each holding a
    lake) through ring_lens, spanning three res-4 cell rows: every point
    agrees with brute-force point_in_ring_np."""
    xs, ys, lens = [], [], []
    for k in range(1000):
        x0, y0 = float(k % 40), float(k // 40)
        for a, b in ((x0, x0 + 0.8), (x0 + 0.3, x0 + 0.5)):
            lo, hi = y0 + (a - x0), y0 + (b - x0)
            xs += [a, b, b, a, a]
            ys += [lo, lo, hi, hi, lo]
            lens.append(5)
    layer = spark.createDataFrame(
        [("isles", xs, ys, lens, min(xs), min(ys), max(xs), max(ys))],
        "poly_id string, xs array<double>, ys array<double>, ring_lens array<int>, "
        "minx double, miny double, maxx double, maxy double")
    rng = np.random.default_rng(7)
    grid = [(f"p{i}", float(x), float(y)) for i, (x, y) in
            enumerate(zip(rng.uniform(0, 40, 400), rng.uniform(0, 25, 400)))]
    pts = spark.createDataFrame(grid, "image_id string, lon double, lat double")
    px, py = np.array([g[1] for g in grid]), np.array([g[2] for g in grid])
    inside = np.zeros(len(grid), bool)
    for s in range(0, len(xs), 5):
        inside ^= geo.point_in_ring_np(px, py, np.array([xs[s:s + 5], ys[s:s + 5]]).T)
    want = {(g[0], "isles") for g, hit in zip(grid, inside) if hit}
    assert 50 < len(want) < 300
    got = _pairs(pip_join.pip_join(pts, layer, poly_cols=("poly_id",), exact=True, res=4))
    assert got == want
