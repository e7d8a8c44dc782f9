"""Catalog MERGE/DELETE semantics (SURVEY.md K5/K6/J3). The removal
anti-join (J3/ST2) is the driver's removal_antijoin query, checked by the
oracle window."""

import datetime

from extractors_geo_spark.operators import catalog


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_upsert_latest_wins(spark):
    cat = spark.createDataFrame(
        [("a", "old-a", _ts("2024-01-01")), ("b", "old-b", _ts("2024-01-01"))],
        ["identifier", "title", "updated_at"],
    )
    upd = spark.createDataFrame(
        [("a", "new-a", _ts("2024-02-01")), ("c", "new-c", _ts("2024-02-01"))],
        ["identifier", "title", "updated_at"],
    )
    out = {r["identifier"]: r["title"] for r in catalog.upsert(cat, upd).collect()}
    assert out == {"a": "new-a", "b": "old-b", "c": "new-c"}


def test_upsert_same_ts_prefers_update(spark):
    cat = spark.createDataFrame([("a", "old", _ts("2024-01-01"))], ["identifier", "title", "updated_at"])
    upd = spark.createDataFrame([("a", "new", _ts("2024-01-01"))], ["identifier", "title", "updated_at"])
    out = catalog.upsert(cat, upd).collect()
    assert len(out) == 1 and out[0]["title"] == "new"


def test_delete(spark):
    cat = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["identifier", "v"])
    dels = spark.createDataFrame([("b",), ("zz",)], ["identifier"])
    out = {r["identifier"] for r in catalog.delete(cat, dels).collect()}
    assert out == {"a", "c"}
