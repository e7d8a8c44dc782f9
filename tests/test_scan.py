"""The shared parquet read helper (sources/scan.py) and the plan-build
budget it serves: a repeat read in one session returns the relation
built before, a fresh read of a known table state starts no schema job,
a rewritten table, a new session and a remote path are read afresh, and
rebuilding the benchmark queries starts no Spark job at all."""

import os
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from extractors_geo_spark.sources import scan  # noqa: E402

SF = "/root/testdata/sf0.001"


def jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan build")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events land
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_read_starts_no_job_and_rewrite_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    df, n = jobs_started(spark, lambda: scan.read(spark, path))
    assert n >= 1 and df.columns == ["a"]  # schema inference
    df, n = jobs_started(spark, lambda: scan.read(spark, path))
    assert n == 0 and df.columns == ["a"]
    assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]

    # same path, an added column: the new state is inferred again
    pq.write_table(pa.table({"a": [4, 5], "b": ["x", "y"]}), path)
    df, n = jobs_started(spark, lambda: scan.read(spark, path))
    assert n >= 1 and df.columns == ["a", "b"]
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(4, "x"), (5, "y")]


def _count_parquet_calls(monkeypatch) -> list:
    """Record every DataFrameReader.parquet call; returns the list."""
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    real = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        calls.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    return calls


def test_repeat_read_in_one_session_reuses_the_relation(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    calls = _count_parquet_calls(monkeypatch)
    for spread, keys in ((False, ()), (True, ()), (False, ("a",))):
        first = scan.read(spark, path, spread=spread, keys=keys)
        again, n = jobs_started(spark, lambda: scan.read(spark, path, spread=spread, keys=keys))
        assert again is first and n == 0, (spread, keys)
        # the spread/keys repartition (one row group < the cores) is part
        # of the reused relation
        root = again._jdf.queryExecution().logical().nodeName()
        assert ("Repartition" in root) == (spread or bool(keys)), (spread, keys, root)
    assert len(calls) == 3  # one per spread/keys choice, none on a repeat
    assert sorted(r["a"] for r in again.collect()) == [1, 2, 3]


def test_rewrite_new_session_and_remote_path_read_afresh(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    calls = _count_parquet_calls(monkeypatch)
    first = scan.read(spark, path)

    other = spark.newSession()
    fresh = scan.read(other, path)
    assert fresh is not first and fresh.sparkSession is other and len(calls) == 2
    assert scan.read(other, path) is fresh and len(calls) == 2

    pq.write_table(pa.table({"a": [4, 5, 6, 7]}), path)  # a new table state
    rewritten = scan.read(spark, path)
    assert rewritten is not first and len(calls) == 3
    assert sorted(r["a"] for r in rewritten.collect()) == [4, 5, 6, 7]
    assert scan.read(spark, path) is rewritten and len(calls) == 3
    assert len([p for p in scan._CACHE if p == path]) == 1  # replaced, not added

    remote = f"file://{path}"
    a, b = scan.read(spark, remote), scan.read(spark, remote)
    assert a is not b and len(calls) == 5 and remote not in scan._CACHE


def test_part_directory_state_includes_every_data_file(spark, tmp_path):
    d = tmp_path / "parts.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    (d / "_SUCCESS").write_text("")
    assert scan.read(spark, str(d)).count() == 1
    _, n = jobs_started(spark, lambda: scan.read(spark, str(d)))
    assert n == 0
    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    df, n = jobs_started(spark, lambda: scan.read(spark, str(d)))
    assert n >= 1 and df.count() == 2


class _NoOs:
    def __getattr__(self, name):
        raise AssertionError(f"remote path touched os.{name}")


def test_remote_path_reads_plainly_and_is_not_cached(spark, tmp_path, monkeypatch):
    local = str(tmp_path / "r.parquet")
    pq.write_table(pa.table({"a": [7, 8]}), local)
    monkeypatch.setattr(scan, "os", _NoOs())
    before = dict(scan._CACHE)
    assert scan.scan_parallelism("s3a://bucket/t.parquet") == scan._SPLITTABLE
    for _ in range(2):
        df = scan.read(spark, f"file://{local}", spread=True)
        assert sorted(r["a"] for r in df.collect()) == [7, 8]
    assert scan._CACHE == before


def test_get_spark_single_imports_the_hot_jvm_classes(spark):
    jvm = spark.sparkContext._jvm
    assert jvm.functions._fqn == "org.apache.spark.sql.functions"
    assert jvm.PythonUtils._fqn == "org.apache.spark.api.python.PythonUtils"


def test_call_site_capture_is_off_under_get_spark(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_benchmark_queries_rebuild_with_zero_jobs(spark):
    """Each query the benchmark times builds a second time in one session
    without starting a Spark job: no schema inference, no probe. The
    second build calls the query function itself, past the registry's
    plan cache."""
    import __spark_entry__ as E
    from perfbench.workloads import SPATIAL_OPS, TEXT_OPS

    qs = E.queries()
    for op in SPATIAL_OPS + TEXT_OPS:
        jobs_started(spark, lambda: qs[op](spark, SF))
        _, n = jobs_started(spark, lambda: qs[op].__wrapped__(spark, SF))
        assert n == 0, f"{op}: {n} Spark job(s) started by a repeat plan build"
