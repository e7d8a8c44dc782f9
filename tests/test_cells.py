"""Geocell index: encode/decode, covering sets, ring/children algebra, and
the SQL twin used by the DuckDB oracle."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

from extractors_geo_spark.operators import cells


def test_encode_decode_roundtrip():
    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    for res in (0, 3, 7, 12):
        c = cells.cell_np(lon, lat, res)
        r, iy, ix = cells.cell_decode_np(c)
        assert (r == res).all()
        minx, miny, maxx, maxy = cells.cell_bounds_np(c)
        assert ((lon >= minx - 1e-9) & (lon <= maxx + 1e-9)).all()
        assert ((lat >= miny - 1e-9) & (lat <= maxy + 1e-9)).all()


def test_expr_matches_np(spark):
    pts = [(-124.7, 24.9), (-66.9, 49.4), (0.0, 0.0), (179.99, -89.99), (-180.0, 90.0)]
    df = spark.createDataFrame(pts, ["lon", "lat"])
    for res in (4, 8):
        got = [r[0] for r in df.select(cells.cell_id(F.col("lon"), F.col("lat"), res)).collect()]
        exp = cells.cell_np([p[0] for p in pts], [p[1] for p in pts], res)
        assert got == list(exp)


def test_sql_twin_matches(spark):
    rng = np.random.default_rng(5)
    pts = [(float(a), float(b)) for a, b in zip(rng.uniform(-180, 180, 200), rng.uniform(-90, 90, 200))]
    df = spark.createDataFrame(pts, ["lon", "lat"])
    res = 7
    got = [r[0] for r in df.select(cells.cell_id(F.col("lon"), F.col("lat"), res)).orderBy("lon").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE p(lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pts)
    sql = cells.cell_id_sql("lon", "lat", res)
    exp = [r[0] for r in con.execute(f"SELECT {sql} FROM p ORDER BY lon").fetchall()]
    assert got == exp


def test_null_coordinate_has_no_cell(spark):
    """A NULL lon or lat encodes to NULL, on Spark and in the DuckDB twin,
    not to a cell at the grid edge; the non-NULL rows still match cell_np."""
    pts = [(None, 10.0), (10.0, None), (None, None), (-124.7, 24.9),
           (0.0, 0.0), (179.99, -89.99), (-500.0, 300.0)]
    rows = [(i, *p) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "i int, lon double, lat double")
    con = duckdb.connect()
    con.execute("CREATE TABLE p(i INT, lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)", rows)
    for res in (0, 4, 6):
        got = [r[0] for r in df.orderBy("i").select(
            cells.cell_id(F.col("lon"), F.col("lat"), res)).collect()]
        sql = cells.cell_id_sql("lon", "lat", res)
        twin = [r[0] for r in con.execute(f"SELECT {sql} FROM p ORDER BY i").fetchall()]
        want = [None] * 3 + list(cells.cell_np([p[0] for p in pts[3:]], [p[1] for p in pts[3:]], res))
        assert got == twin == want, res


def _cover(spark, boxes, res, by_row=False):
    """cells.cover_cells (or, with by_row, the cells of
    cells.cover_bbox_by_row) of (minx, miny, maxx, maxy) boxes -> {box
    index: [cells]}; a box with no rows is absent."""
    df = spark.createDataFrame(
        [(i, *b) for i, b in enumerate(boxes)],
        "id int, minx double, miny double, maxx double, maxy double")
    if by_row:
        box = [F.col(c) for c in ("minx", "miny", "maxx", "maxy")]
        rows = df.select("id", F.inline(cells.cover_bbox_by_row(
            *box, res, cells.cover_rows(box[1], box[3], res))))
    else:
        rows = cells.cover_cells(df, "minx", "miny", "maxx", "maxy", res, ["id"])
    got = {}
    for r in rows.collect():
        got.setdefault(r["id"], []).append(r["cell"])
    return got


def _cover_np(box, res):
    """Reference cover enumerated from cells.cell_np's clamped (iy, ix):
    rows between the two latitudes' rows, columns x0..x1 or, when
    minx > maxx, wrapped across the antimeridian (every column when
    x0 == x1); none for a NULL coordinate."""
    if any(v is None for v in box):
        return []
    minx, miny, maxx, maxy = box
    _, iya, x0 = cells.cell_decode_np(cells.cell_np(minx, maxy, res))
    _, iyb, x1 = cells.cell_decode_np(cells.cell_np(maxx, miny, res))
    n = 1 << res
    if minx <= maxx:
        xs = range(x0, x1 + 1)
    else:
        xs = [*range(x0, n), *range(0, x1 + 1 if x0 > x1 else x0)]
    ys = range(min(iya, iyb), max(iya, iyb) + 1)
    return [res * cells.RES_SHIFT + iy * cells.Y_SHIFT + ix for iy in ys for ix in xs]


def test_cover_cells_matches_numpy_enumeration(spark):
    rng = np.random.default_rng(8)
    boxes = [
        (170.0, -10.0, -170.0, 10.0),    # wraps the antimeridian
        (179.9, -5.0, -179.9, 5.0),      # wraps, one column each side
        (-500.0, -300.0, 500.0, 300.0),  # clamps to the whole grid
        (175.0, 80.0, 400.0, 120.0),     # clamps past +180 / +90
        (-190.0, -95.0, -185.0, -91.0),  # wholly off-grid: one edge cell
        (10.0, 0.0, 10.0, 0.0),          # a point: one cell
        (10.01, 20.01, 10.02, 20.02),    # inside one cell
        (-100.0, 40.0, -90.0, 30.0),     # inverted: miny > maxy
        (-90.0, 40.0, -100.0, 30.0),     # inverted and wrapped
        (10.0, 0.0, 9.99, 1.0),          # wraps within one column: all columns
        (None, 0.0, 1.0, 1.0), (0.0, None, 1.0, 1.0),
        (0.0, 0.0, None, 1.0), (0.0, 0.0, 1.0, None),
    ]
    for _ in range(40):
        x, y = rng.uniform(-200, 200, 2), rng.uniform(-100, 100, 2)
        boxes.append((float(x[0]), float(y[0]), float(x[1]), float(y[1])))
    for res in (0, 4, 6):
        got, by_row = _cover(spark, boxes, res), _cover(spark, boxes, res, by_row=True)
        for i, box in enumerate(boxes):
            want = _cover_np(box, res)
            assert sorted(got.get(i, [])) == sorted(set(want)) == sorted(want), (res, box)
            assert sorted(by_row.get(i, [])) == sorted(want), (res, box)


def test_cover_bbox_contains_member_points(spark):
    res = 6
    cover = _cover(spark, [(-110.0, 30.0, -100.0, 40.0)], res)[0]
    rng = np.random.default_rng(1)
    lon = rng.uniform(-110, -100, 300)
    lat = rng.uniform(30, 40, 300)
    pts = set(cells.cell_np(lon, lat, res))
    assert pts.issubset(set(cover))


def test_children_partition_parent(spark):
    df = spark.createDataFrame([(-100.0, 35.0)], ["lon", "lat"])
    row = df.select(
        cells.cell_id(F.col("lon"), F.col("lat"), 5).alias("c")
    ).select(F.col("c"), cells.cell_children(F.col("c")).alias("kids")).collect()[0]
    r, iy, ix = cells.cell_decode_np(np.array([row["c"]]))
    for kid in row["kids"]:
        kr, kiy, kix = cells.cell_decode_np(np.array([kid]))
        assert kr[0] == r[0] + 1
        assert kiy[0] // 2 == iy[0] and kix[0] // 2 == ix[0]
    assert len(set(row["kids"])) == 4


def test_ring_block(spark):
    df = spark.createDataFrame([(-100.0, 35.0)], ["lon", "lat"])
    row = df.select(
        cells.cell_ring(cells.cell_id(F.col("lon"), F.col("lat"), 6), 1).alias("ring")
    ).collect()[0]
    assert len(row["ring"]) == 9  # interior cell: full 3x3
    rs, iys, ixs = cells.cell_decode_np(np.array(row["ring"]))
    assert (rs == 6).all()
    assert ixs.max() - ixs.min() == 2 and iys.max() - iys.min() == 2


def test_ring_clipped_at_edge(spark):
    df = spark.createDataFrame([(-179.999, 89.999)], ["lon", "lat"])  # corner cell
    row = df.select(
        cells.cell_ring(cells.cell_id(F.col("lon"), F.col("lat"), 6), 1).alias("ring")
    ).collect()[0]
    assert len(row["ring"]) == 4  # corner: 2x2 survive clipping


def test_tile_xyz_matches_sql(spark):
    rng = np.random.default_rng(9)
    pts = [(float(a), float(b)) for a, b in zip(rng.uniform(-179, 179, 100), rng.uniform(-84, 84, 100))]
    # a NULL coordinate has no tile on that axis (NULL-in/NULL-out, not 0)
    pts += [(None, 10.0), (10.0, None)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    z = 8
    tx, ty = cells.tile_xyz(F.col("lon"), F.col("lat"), z)
    order = [F.col("lon").asc_nulls_first(), F.col("lat").asc_nulls_first()]
    rows = df.select(tx.alias("x"), ty.alias("y"), "lon", "lat").orderBy(*order).collect()
    got = [(r["x"], r["y"]) for r in rows]
    con = duckdb.connect()
    con.execute("CREATE TABLE p(lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pts)
    sx, sy = cells.tile_xyz_sql("lon", "lat", z)
    exp = con.execute(f"SELECT {sx}, {sy} FROM p ORDER BY lon NULLS FIRST, lat NULLS FIRST").fetchall()
    assert got == [tuple(e) for e in exp]
    nulls = {(r["lon"], r["lat"]): (r["x"], r["y"]) for r in rows
             if r["lon"] is None or r["lat"] is None}
    assert nulls[(None, 10.0)][0] is None and nulls[(None, 10.0)][1] is not None
    assert nulls[(10.0, None)][0] is not None and nulls[(10.0, None)][1] is None


def test_cover_cells_sql_twin_matches_spark(spark):
    """cover_cells_sql in DuckDB gives cover_cells' cells in Spark, box by
    box, on wrapped, inverted, clamped and NULL boxes. The `cell_ops`
    oracle is built from the twin."""
    boxes = [
        (170.0, -10.0, -170.0, 10.0),    # wraps the antimeridian
        (179.9, -5.0, -179.9, 5.0),      # wraps, one column each side
        (10.0, 0.0, 9.99, 1.0),          # wraps within one column: all columns
        (-90.0, 40.0, -100.0, 30.0),     # inverted and wrapped
        (-100.0, 40.0, -90.0, 30.0),     # inverted: miny > maxy
        (-500.0, -300.0, 500.0, 300.0),  # clamps to the whole grid
        (10.0, 0.0, 10.0, 0.0),          # a point: one cell
        (None, 0.0, 1.0, 1.0), (0.0, 0.0, 1.0, None),
    ]
    rng = np.random.default_rng(11)
    for _ in range(20):
        x, y = rng.uniform(-200, 200, 2), rng.uniform(-100, 100, 2)
        boxes.append((float(x[0]), float(y[0]), float(x[1]), float(y[1])))
    con = duckdb.connect()
    con.execute("CREATE TABLE b(id INT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE)")
    con.executemany("INSERT INTO b VALUES (?, ?, ?, ?, ?)", [(i, *box) for i, box in enumerate(boxes)])
    for res in (0, 4, 6):
        got = _cover(spark, boxes, res)
        twin = {}
        for i, cell in con.execute(cells.cover_cells_sql("b", "minx", "miny", "maxx", "maxy", res, ["id"])).fetchall():
            twin.setdefault(i, []).append(cell)
        for i, box in enumerate(boxes):
            assert sorted(twin.get(i, [])) == sorted(got.get(i, [])) == sorted(_cover_np(box, res)), (res, box)


def test_cover_bbox_antimeridian_wraps(spark):
    # minx > maxx means the box crosses the +-180 meridian: the x cover is
    # [x0, n-1] ++ [0, x1], never a silent negative-step sequence.
    got = set(_cover(spark, [(170.0, -10.0, -170.0, 10.0)], 4)[0])
    # the wrapped cover contains both an east-edge cell and a west-edge cell
    east, west, mid = cells.cell_np([175.0, -175.0, 0.0], [0.0, 0.0, 0.0], 4)
    assert east in got and west in got and mid not in got
