"""The plan cache of the `queries()` registry (exprcache.memo_plan): a
repeat call in the same session over the same table states returns the
DataFrame built before; a rewritten table, another session or a restart
builds afresh; a build that reads anything but `sources/scan.read` tables
and literal relations is never cached."""

import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
from extractors_geo_spark import exprcache  # noqa: E402
from extractors_geo_spark.sources import scan  # noqa: E402
from perfbench.workloads import SPATIAL_OPS, TEXT_OPS  # noqa: E402

SF = "/root/testdata/sf0.001"


def _dataframes_made(monkeypatch) -> list:
    """Record every PySpark DataFrame constructed from now on."""
    from pyspark.sql.classic.dataframe import DataFrame

    made = []
    real = DataFrame.__init__

    def recording(self, *a, **kw):
        made.append(self)
        real(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "__init__", recording)
    return made


@pytest.mark.parametrize("op", SPATIAL_OPS + TEXT_OPS)
def test_benchmark_query_repeat_call_is_the_built_plan(spark, monkeypatch, op):
    q = E.queries()[op]
    first = q(spark, SF)
    assert exprcache._PLANS[(op, SF)][2] is first
    made = _dataframes_made(monkeypatch)
    assert q(spark, SF) is first and E.queries()[op](spark, SF) is first
    assert made == []


def _copy_table(tmp_path, name: str) -> str:
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    shutil.copy(f"{SF}/{name}.parquet", d / f"{name}.parquet")
    return str(d)


def test_rewritten_table_rebuilds(spark, tmp_path):
    sf = _copy_table(tmp_path, "lineitem")
    q = E.queries()["cell_encode"]
    first = q(spark, sf)
    n = first.count()
    t = pq.read_table(f"{sf}/lineitem.parquet")
    pq.write_table(t.slice(0, t.num_rows // 2), f"{sf}/lineitem.parquet")  # same path
    again = q(spark, sf)
    assert again is not first and again.count() == t.num_rows // 2 < n
    assert q(spark, sf) is again
    assert [k for k in exprcache._PLANS if k[0] == "cell_encode"] == [("cell_encode", sf)]


def test_new_session_rebuilds_and_replaces_the_entry(spark):
    q = E.queries()["cell_density"]
    first = q(spark, SF)
    other = spark.newSession()
    theirs = q(other, SF)
    assert theirs is not first and theirs.sparkSession is other
    assert q(other, SF) is theirs
    assert q(spark, SF) is not first  # one entry per (name, sf_dir)


def test_restart_after_stop_rebuilds(tmp_path):
    """In a child process, so the shared test session stays up."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import __spark_entry__ as E
        from extractors_geo_spark.session import get_spark
        q = E.queries()["cell_density"]
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        first = q(spark, {SF!r})
        assert q(spark, {SF!r}) is first
        rows = sorted(first.collect())
        spark.stop()
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        again = q(spark, {SF!r})
        assert again is not first and sorted(again.collect()) == rows
        spark.stop()
        print("restart-ok")
    """)
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         env=env, timeout=600)
    assert "restart-ok" in out.stdout, out.stderr[-2000:]


def test_python_rdd_leaf_or_other_file_read_is_never_cached(spark, tmp_path):
    sf = _copy_table(tmp_path, "lineitem")
    t, other = f"{sf}/lineitem.parquet", str(tmp_path / "other.parquet")
    shutil.copy(t, other)

    def rdd_leaf(spark, sf_dir):  # createDataFrame(<list>) is a LogicalRDD
        return scan.read(spark, t).crossJoin(spark.createDataFrame([(1,)], "k int"))

    def plain_read(spark, sf_dir):
        return spark.read.parquet(t).select("l_orderkey")

    def read_beside_scan(spark, sf_dir):  # one table through scan.read, one not
        return scan.read(spark, t).unionByName(spark.read.parquet(other))

    def scan_only(spark, sf_dir):  # a self-join: two leaves, one read
        a = scan.read(spark, t).select("l_orderkey")
        return a.join(scan.read(spark, t).select("l_orderkey"), "l_orderkey")

    for build in (rdd_leaf, plain_read, read_beside_scan):
        first = exprcache.memo_plan(build.__name__, spark, sf, build)
        assert exprcache.memo_plan(build.__name__, spark, sf, build) is not first, build.__name__
        assert (build.__name__, sf) not in exprcache._PLANS
    first = exprcache.memo_plan("scan_only", spark, sf, scan_only)
    assert exprcache.memo_plan("scan_only", spark, sf, scan_only) is first

