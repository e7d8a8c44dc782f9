"""The shared parquet read helper (sources/scan.py) and the plan-build
budget it serves: a repeat read starts no schema job, a rewritten table
is read afresh, remote paths read plainly, and rebuilding the benchmark
queries starts no Spark job at all."""

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


def test_call_site_capture_is_off_under_get_spark(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_benchmark_queries_rebuild_with_zero_jobs(spark):
    """Each query the benchmark times builds a second time in one session
    without starting a Spark job: no schema inference, no probe."""
    import __spark_entry__ as E
    from perfbench.workloads import SPATIAL_OPS, TEXT_OPS

    qs = E.queries()
    for op in SPATIAL_OPS + TEXT_OPS:
        jobs_started(spark, lambda: qs[op](spark, SF))
        _, n = jobs_started(spark, lambda: qs[op](spark, SF))
        assert n == 0, f"{op}: {n} Spark job(s) started by a repeat plan build"
