"""Oracle re-ranging and digests, at a small N (no Spark).

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os

import duckdb
import numpy as np
import pytest

import __spark_entry__ as E
from extractors_geo_spark import datagen
from perfbench import check, layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _python_pairs(lo: int, hi: int) -> set:
    """(image_id, poly_id) by direct even-odd ray cast of the SQL-twin
    centroids against the polygon layer; routes 0 and 1 carry no geo."""
    polys = datagen.make_polygons()
    out = set()
    for i in range(lo, hi):
        if i % 25 < 2:
            continue
        x, y = datagen.sql_twin_centroid(i)
        for rec in polys.itertuples(index=False):
            xs, ys = np.asarray(rec.xs), np.asarray(rec.ys)
            x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
            with np.errstate(divide="ignore", invalid="ignore"):  # horizontal edges
                xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            cross = ((y1 > y) != (y2 > y)) & (x < xin)
            if cross.sum() % 2 == 1:
                out.add((f"img{i:08d}", rec.poly_id))
    return out


def _duck(sql: str) -> set:
    con = duckdb.connect()
    try:
        return set(con.execute(sql).fetchall())
    finally:
        con.close()


@pytest.mark.parametrize("lo,hi", [(0, 60), (123_450, 123_520)])
def test_reranged_flagship_oracle_matches_direct_ray_cast(lo, hi):
    sql = check.ranged_flagship_sql(E.oracle_sql()["flagship_pip"], lo, hi)
    got = _duck(sql)
    assert got == _python_pairs(lo, hi)
    assert {int(i[3:]) for i, _ in got} <= set(range(lo, hi))


def test_reranging_the_original_range_keeps_its_pairs():
    original = E.oracle_sql()["flagship_pip"]
    pairs = {(i, p) for i, _, p, _ in _duck(original)}
    assert _duck(check.ranged_flagship_sql(original, 0, 1500)) == pairs


def test_reranging_refuses_an_oracle_without_the_generator():
    with pytest.raises(ValueError):
        check.ranged_flagship_sql("SELECT 1 FROM range(10) t(i)", 0, 5)


def test_digest_is_order_insensitive_and_schema_sorted():
    a = check.digest([(1, "x", 0.5), (2, "y", None)], ["id", "s", "v"])
    b = check.digest([("y", None, 2), ("x", 0.5, 1)], ["s", "v", "id"])
    assert a == b and a["rows"] == 2 and a["cols"] == ["id", "s", "v"]
    assert check.digest([(1,)], ["id"]) != check.digest([(2,)], ["id"])


def test_oracle_cache_key_follows_oracle_text_and_inputs(tmp_path):
    k = check.OracleCache.key
    assert k(1, "w", "q", "d1", "SELECT 1") == k(1, "w", "q", "d1", "SELECT 1")
    assert k(1, "w", "q", "d1", "SELECT 1") != k(1, "w", "q", "d1", "SELECT 2")
    assert k(1, "w", "q", "d1", "SELECT 1") != k(1, "w", "q", "d2", "SELECT 1")
    assert k(1, "w", "q", "d1", "SELECT 1") != k(2, "w", "q", "d1", "SELECT 1")
    cache = check.OracleCache(str(tmp_path / "c.json"))
    calls = []
    want, hit = cache.get_or_compute("k", lambda: calls.append(1) or {"rows": 1})
    assert not hit and calls == [1]
    cache.save()
    again, hit = check.OracleCache(str(tmp_path / "c.json")).get_or_compute("k", lambda: 1 / 0)
    assert hit and again == want


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
