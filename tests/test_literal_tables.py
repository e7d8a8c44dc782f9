"""Driver-side literal tables are LocalRelations (`session.local_table`):
no driver query plan reads a Python RDD, which would start a Python-worker
job every time the plan runs, and each literal table keeps exactly the
schema and rows that `spark.createDataFrame(<list>)` gave it. A literal
table is read in one task, and a query's constant layer is built once
per session."""

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from extractors_geo_spark import datagen, session  # noqa: E402
from extractors_geo_spark.operators import dedup  # noqa: E402

SF = "/root/testdata/sf0.001"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_query_plan_reads_a_python_rdd(spark):
    rdd = [name for name, q in E.queries().items() if "LogicalRDD" in _optimized(q(spark, SF))]
    assert rdd == []


def test_query_literal_tables_match_the_list_path(spark, monkeypatch):
    monkeypatch.setattr(E, "_LAYER_MEMO", {})  # build each layer here
    made = []

    def recording(spark, rows, schema):
        made.append(session.local_table(spark, rows, schema))
        return made[-1]

    monkeypatch.setattr(E, "local_table", recording)
    list_path = {
        "pip_join": spark.createDataFrame(
            [
                {
                    "poly_id": pid, "name": pid,
                    "xs": [x0, x1, x1, x0, x0], "ys": [y0, y0, y1, y1, y0],
                    "minx": x0, "miny": y0, "maxx": x1, "maxy": y1,
                }
                for pid, x0, y0, x1, y1 in E._RECTS
            ],
            datagen.POLY_SCHEMA,
        ),
        "bbox_join": spark.createDataFrame(E._WINDOWS, ["query_id", "minx", "miny", "maxx", "maxy"]),
        "knn": spark.createDataFrame(E._KNN_QUERIES, ["query_id", "lon", "lat"]),
    }
    qs = E.queries()
    for op, want in list_path.items():
        made.clear()
        qs[op](spark, SF)
        assert len(made) == 1, op
        got = made[0]
        assert "LocalRelation" in _optimized(got), op
        assert got.schema == want.schema, op
        assert got.collect() == want.collect(), op


def _tasks_run(spark, fn) -> int:
    """The number of tasks the Spark jobs that fn() starts ran."""
    sc = spark.sparkContext
    group = f"tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count tasks")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return sum(tracker.getStageInfo(s).numTasks
               for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds)


@pytest.mark.parametrize("op,name", [("pip_join", "rects"), ("bbox_join", "windows"),
                                     ("knn", "knn_queries")])
def test_query_layer_is_built_once_per_session_and_read_in_one_task(spark, monkeypatch, op, name):
    layer = E._layer(spark, name)
    made = []
    monkeypatch.setattr(E, "local_table", lambda *a: made.append(a) or session.local_table(*a))
    E.queries()[op](spark, SF)
    assert made == [] and E._layer(spark, name) is layer  # no rebuild in the session
    other = spark.newSession()
    assert E._layer(other, name) is not layer and len(made) == 1  # a new session's own
    assert len(E._LAYER_MEMO) <= len(E._LAYERS)
    # 6-20 rows: one task, not min(rows, cores)
    assert _tasks_run(spark, lambda: layer.write.format("noop").mode("overwrite").save()) == 1


def test_empty_dropped_shingles_frame_is_a_local_relation(spark):
    docs = spark.createDataFrame([("a", "alpha beta gamma delta")], "doc_id string, text string")
    _, dropped = dedup.ngram_jaccard_pairs(docs, threshold=0.5, return_dropped=True)
    assert "LocalRelation <empty>" in _optimized(dropped)
    assert dropped.schema == spark.createDataFrame([], "blk int, g long, df long").schema
    assert dropped.collect() == []


def test_local_table_rejects_a_row_of_the_wrong_width(spark):
    with pytest.raises(ValueError, match="3 values"):
        session.local_table(spark, [("q0", 1.0)], E._KNN_SCHEMA)
