"""bbox-intersection range join vs brute force; dedup without distinct."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from extractors_geo_spark.operators import bbox_join


@pytest.fixture(scope="module")
def boxes(spark):
    rng = np.random.default_rng(33)
    lefts, rights = [], []
    for i in range(400):
        cx, cy = rng.uniform(-120, -70), rng.uniform(26, 48)
        w, h = rng.uniform(0.1, 3.0), rng.uniform(0.1, 3.0)
        lefts.append((f"L{i:04d}", float(cx - w), float(cy - h), float(cx + w), float(cy + h)))
    for j in range(60):
        cx, cy = rng.uniform(-120, -70), rng.uniform(26, 48)
        w, h = rng.uniform(0.5, 6.0), rng.uniform(0.5, 6.0)
        rights.append((f"R{j:03d}", float(cx - w), float(cy - h), float(cx + w), float(cy + h)))
    l = spark.createDataFrame(lefts, ["image_id", "minx", "miny", "maxx", "maxy"]).cache()
    r = spark.createDataFrame(rights, ["query_id", "minx", "miny", "maxx", "maxy"]).cache()
    return l, r, lefts, rights


def brute(lefts, rights):
    out = set()
    for li, lx0, ly0, lx1, ly1 in lefts:
        for rj, rx0, ry0, rx1, ry1 in rights:
            if lx0 <= rx1 and lx1 >= rx0 and ly0 <= ry1 and ly1 >= ry0:
                out.add((li, rj))
    return out


def test_bbox_join_matches_brute_force(spark, boxes):
    l, r, lefts, rights = boxes
    got_rows = bbox_join.bbox_join(l, r, res=6).collect()
    got = {(x["image_id"], x["query_id"]) for x in got_rows}
    assert got == brute(lefts, rights)
    # one row per pair (dedup via reference corner, no distinct)
    assert len(got_rows) == len(got)
    # intersection rect is correct
    for x in got_rows[:20]:
        assert x["ix_minx"] <= x["ix_maxx"] and x["ix_miny"] <= x["ix_maxy"]


def test_bbox_join_resolution_invariance(spark, boxes):
    l, r, lefts, rights = boxes
    exp = brute(lefts, rights)
    for res in (4, 7):
        got = {(x["image_id"], x["query_id"]) for x in bbox_join.bbox_join(l, r, res=res).collect()}
        assert got == exp


def test_bbox_join_antimeridian_wrapped_boxes(spark):
    # A wrapped box (minx > maxx) crosses the ±180 seam; pairs must survive
    # the exact refine end-to-end (ADVICE r02: the cover stage generated
    # wrapped candidates but the interval filter dropped them all).
    l = spark.createDataFrame(
        [
            ("Lwrap", 170.0, -10.0, -170.0, 10.0),   # wraps the antimeridian
            ("Lplain", 100.0, -10.0, 110.0, 10.0),   # ordinary box
        ],
        ["image_id", "minx", "miny", "maxx", "maxy"],
    )
    r = spark.createDataFrame(
        [
            ("Reast", 175.0, -5.0, 179.0, 5.0),      # east side of the seam
            ("Rwest", -179.0, -5.0, -175.0, 5.0),    # west side of the seam
            ("Rworld", -180.0, -5.0, 180.0, 5.0),    # spans everything
            ("Rfar", 0.0, -5.0, 10.0, 5.0),          # intersects neither wrap piece
        ],
        ["image_id2", "minx", "miny", "maxx", "maxy"],
    )
    got = bbox_join.bbox_join(l, r, res=4, r_id="image_id2").collect()
    pairs = {(x["image_id"], x["image_id2"]) for x in got}
    assert pairs == {
        ("Lwrap", "Reast"),
        ("Lwrap", "Rwest"),
        ("Lwrap", "Rworld"),
        ("Lplain", "Rworld"),
    }
    # the wrapped box vs the world box intersects on BOTH sides of the seam
    # -> two disjoint intersection rects, one row each
    world_rows = [x for x in got if x["image_id"] == "Lwrap" and x["image_id2"] == "Rworld"]
    assert len(world_rows) == 2
    rects = sorted((x["ix_minx"], x["ix_maxx"]) for x in world_rows)
    assert rects == [(-180.0, -170.0), (170.0, 180.0)]


def _pieces(x0, x1):
    return [(x0, 180.0), (-180.0, x1)] if x0 > x1 else [(x0, x1)]


def test_bbox_join_wrapped_boxes_on_both_sides_match_brute_force(spark):
    """Seam-crossing boxes on both sides: one row per intersecting pair of
    non-wrapping pieces, each with that pieces' intersection rectangle."""
    rng = np.random.default_rng(7)

    def side(prefix, n):
        rows = []
        for i in range(n):
            cx, w = rng.uniform(150.0, 210.0), rng.uniform(0.5, 15.0)
            cy, h = rng.uniform(-40.0, 40.0), rng.uniform(0.5, 10.0)
            x0, x1 = ((cx - w + 180.0) % 360.0) - 180.0, ((cx + w + 180.0) % 360.0) - 180.0
            rows.append((f"{prefix}{i:03d}", float(x0), float(cy - h), float(x1), float(cy + h)))
        return rows

    lefts, rights = side("L", 120), side("R", 40)
    assert sum(x0 > x1 for _, x0, _, x1, _ in lefts) > 10
    assert sum(x0 > x1 for _, x0, _, x1, _ in rights) > 5
    want = []
    for li, lx0, ly0, lx1, ly1 in lefts:
        for rj, rx0, ry0, rx1, ry1 in rights:
            if not (ly0 <= ry1 and ly1 >= ry0):
                continue
            for a0, a1 in _pieces(lx0, lx1):
                for b0, b1 in _pieces(rx0, rx1):
                    if a0 <= b1 and a1 >= b0:
                        want.append((li, rj, max(a0, b0), max(ly0, ry0),
                                     min(a1, b1), min(ly1, ry1)))
    l = spark.createDataFrame(lefts, ["image_id", "minx", "miny", "maxx", "maxy"])
    r = spark.createDataFrame(rights, ["query_id", "minx", "miny", "maxx", "maxy"])
    for res in (4, 6):
        got = [tuple(x) for x in bbox_join.bbox_join(l, r, res=res).collect()]
        assert sorted(got) == sorted(want)


def test_bbox_join_is_codegen_only(spark, boxes):
    """No Python stage, and no higher-order function: Spark runs those
    (transform, filter, aggregate, zip_with) interpreted, outside
    whole-stage codegen. The driver queries' covers hold none either."""
    from tests.test_literal_tables import SF, E
    from tests.test_plans import explain_str, plan_of

    l, r, _, _ = boxes
    df = bbox_join.bbox_join(l, r)
    s = explain_str(df)
    assert "ArrowEvalPython" not in s and "MapInPandas" not in s
    assert "MapInArrow" not in s
    for plan in (df, E.q_bbox_join(spark, SF), E.q_cell_cover(spark, SF)):
        assert "lambdafunction" not in plan_of(plan)
