"""Per-partition lineage + checkpoint/resume (north rule requirement)."""

import json
import os

from pyspark.sql import functions as F

from extractors_geo_spark.streaming.lineage import LineageManifest, run_with_lineage


def test_full_run_then_resume_skips_everything(spark, tmp_path):
    df = spark.range(1000).select(F.col("id").cast("string").alias("key"), (F.col("id") * 2).alias("v"))
    out = str(tmp_path / "out")
    r1 = run_with_lineage(df, "key", out, n_buckets=8)
    assert sorted(r1["buckets_run"]) == list(range(8))
    assert r1["rows"] == 1000
    r2 = run_with_lineage(df, "key", out, n_buckets=8)
    assert r2["buckets_run"] == [] and sorted(r2["buckets_skipped"]) == list(range(8))
    assert r2["rows"] == 1000
    back = spark.read.parquet(out + "/bucket=*")
    assert back.count() == 1000


def test_partial_manifest_resumes_remaining(spark, tmp_path):
    df = spark.range(400).select(F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    out = str(tmp_path / "out2")
    full = run_with_lineage(df, "key", out, n_buckets=4)
    assert full["rows"] == 400
    # simulate a crash after 2 buckets: drop two commit markers
    m = LineageManifest(os.path.join(out, "_lineage"))
    m.unmark(2)
    m.unmark(3)
    done = {0, 1}
    r = run_with_lineage(df, "key", out, n_buckets=4)
    assert set(r["buckets_skipped"]) == done
    assert set(r["buckets_run"]) == set(range(4)) - done
    assert spark.read.parquet(out + "/bucket=*").count() == 400


def test_transform_applied_per_bucket(spark, tmp_path):
    df = spark.range(100).select(F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    out = str(tmp_path / "out3")
    r = run_with_lineage(df, "key", out, n_buckets=2,
                         transform=lambda d: d.withColumn("v2", F.col("v") * 10))
    back = spark.read.parquet(out + "/bucket=*")
    assert back.filter(F.col("v2") != F.col("v") * 10).count() == 0
    assert r["rows"] == 100


def test_manifest_counters(spark, tmp_path):
    df = spark.range(100).select(F.col("id").cast("string").alias("key"))
    out = str(tmp_path / "out4")
    run_with_lineage(df, "key", out, n_buckets=4)
    m = LineageManifest(os.path.join(out, "_lineage")).completed()
    assert len(m) == 4
    assert sum(rec["rows"] for rec in m.values()) == 100
    assert all(rec["seconds"] >= 0 for rec in m.values())


def test_onepass_partial_resume(spark, tmp_path):
    """Partial manifest + onepass: remaining buckets complete in ONE scan,
    previously committed bucket dirs are untouched (dynamic overwrite)."""
    df = spark.range(400).select(F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    out = str(tmp_path / "out5")
    full = run_with_lineage(df, "key", out, n_buckets=4)
    assert full["scans"] == 1 and full["rows"] == 400
    m = LineageManifest(os.path.join(out, "_lineage"))
    m.unmark(2)
    m.unmark(3)
    done = {0, 1}
    mtimes_before = {
        b: os.path.getmtime(os.path.join(out, f"bucket={b}")) for b in done
    }
    r = run_with_lineage(df, "key", out, n_buckets=4)
    assert set(r["buckets_skipped"]) == done
    assert set(r["buckets_run"]) == set(range(4)) - done
    assert r["scans"] == 1  # one job for ALL remaining buckets
    assert spark.read.parquet(out + "/bucket=*").count() == 400
    for b, t in mtimes_before.items():
        assert os.path.getmtime(os.path.join(out, f"bucket={b}")) == t


def test_onepass_fresh_run_is_single_job(spark, tmp_path):
    """VERDICT r02 #1 'done' criterion: a fresh run triggers ONE write
    job over the source, not one per bucket; job count asserted via the
    status tracker on a dedicated job group."""
    df = spark.range(2000).select(F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    sc = spark.sparkContext
    sc.setJobGroup("lineage-onepass-test", "fresh onepass run")
    try:
        r = run_with_lineage(df, "key", str(tmp_path / "out6"), n_buckets=16)
    finally:
        sc.setJobGroup(None, None)
    jobs_onepass = len(sc.statusTracker().getJobIdsForGroup("lineage-onepass-test"))
    assert r["scans"] == 1 and r["rows"] == 2000
    # one write job (AQE may add a couple of tiny re-plan jobs, never 16)
    assert 1 <= jobs_onepass < 8


def test_onepass_waves_trade_scans_for_granularity(spark, tmp_path):
    df = spark.range(800).select(F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    out = str(tmp_path / "out8")
    r = run_with_lineage(df, "key", out, n_buckets=8, waves=4)
    assert r["scans"] == 4 and r["rows"] == 800
    assert sorted(r["buckets_run"]) == list(range(8))
    assert spark.read.parquet(out + "/bucket=*").count() == 800


def test_onepass_file_count_bounded(spark, tmp_path):
    """VERDICT r03 #1: the one-pass write must NOT fan out T x B files.
    With the pre-write shuffle on (bucket, salt), each bucket holds at most
    ceil(shuffle_partitions / n_buckets) files per wave, so the total is
    ~shuffle_partitions — independent of upstream task count."""
    n_buckets = 4
    # many upstream tasks: without the fix each would write to every bucket
    df = (
        spark.range(0, 20000, 1, 24)
        .select(F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    )
    out = str(tmp_path / "outfb")
    r = run_with_lineage(df, "key", out, n_buckets=n_buckets)
    assert r["rows"] == 20000
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fpb = max(1, -(-p // n_buckets))
    for b in range(n_buckets):
        files = [f for f in os.listdir(os.path.join(out, f"bucket={b}"))
                 if f.endswith(".parquet")]
        assert 1 <= len(files) <= fpb, (b, len(files), fpb)


def test_onepass_key_dropping_transform_clear_error(spark, tmp_path):
    """ADVICE r03: a key-dropping transform raises a clear ValueError
    naming the requirement, not an unresolved-column error."""
    import pytest

    df = spark.range(50).select(F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="key_col"):
        run_with_lineage(df, "key", str(tmp_path / "outkd"), n_buckets=2,
                         transform=lambda d: d.select((F.col("v") * 2).alias("w")))


def test_manifest_on_subtree_filesystem(tmp_path):
    """Markers route through an explicit pyarrow FileSystem (VERDICT r03
    #4): a SubTreeFileSystem manifest reads/writes identically."""
    from pyarrow import fs as pafs

    base = tmp_path / "mroot"
    base.mkdir()
    sub = pafs.SubTreeFileSystem(str(base), pafs.LocalFileSystem())
    m = LineageManifest("wave1", filesystem=sub)
    m.mark(0, 10, 0.5)
    m.mark(3, 7, 0.1)
    assert (base / "wave1" / "bucket=0.json").exists()
    m2 = LineageManifest("wave1", filesystem=pafs.SubTreeFileSystem(str(base), pafs.LocalFileSystem()))
    got = m2.completed()
    assert set(got) == {0, 3} and got[0]["rows"] == 10
    m2.unmark(0)
    assert set(m.completed()) == {3}


def test_onepass_partial_wave_sizes_shuffle_to_its_buckets(spark, tmp_path):
    """A resume of 4 of 16 buckets shuffles into at most 4 * files_per_bucket
    write tasks (not 16 * files_per_bucket, most of them empty), and writes the
    same rows as the fresh run."""
    n_buckets = 16
    df = spark.range(0, 3000, 1, 2).select(
        F.col("id").cast("string").alias("key"), (F.col("id") * 3).alias("v"))
    out = str(tmp_path / "outpw")
    run_with_lineage(df, "key", out, n_buckets=n_buckets)
    fresh = sorted(spark.read.parquet(out).collect())
    m = LineageManifest(os.path.join(out, "_lineage"))
    for b in range(4):
        m.unmark(b)
    sc = spark.sparkContext
    sc.setJobGroup("lineage-partial-wave", "4-of-16 resume")
    try:
        r = run_with_lineage(df, "key", out, n_buckets=n_buckets)
    finally:
        sc.setJobGroup(None, None)
    assert sorted(r["buckets_run"]) == [0, 1, 2, 3] and r["scans"] == 1
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fpb = max(1, -(-p // n_buckets))
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup("lineage-partial-wave")
              for s in tracker.getJobInfo(j).stageIds]
    tasks = [tracker.getStageInfo(s).numTasks for s in stages if tracker.getStageInfo(s)]
    assert tasks and max(tasks) <= 4 * fpb, tasks
    assert sorted(spark.read.parquet(out).collect()) == fresh


def _write_stage_tasks(sc, group: str) -> int:
    """Task count of the last stage the job group ran: the write stage."""
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds]
    return tracker.getStageInfo(max(stages)).numTasks


def test_onepass_write_tasks_follow_the_data(spark, tmp_path):
    """The bucket shuffle has no fixed count, so AQE sizes the write
    stage: a small 16-bucket run writes in a few tasks, not one per
    bucket. With tiny coalescing targets the same run keeps its
    parallelism, and either way a bucket holds <= files_per_bucket files."""
    n_buckets = 16
    df = spark.range(0, 4000, 1, 4).select(
        F.col("id").cast("string").alias("key"), F.col("id").alias("v"))
    sc = spark.sparkContext
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fpb = max(1, -(-p // n_buckets))

    def run(name: str) -> int:
        out = str(tmp_path / name)
        sc.setJobGroup(f"lineage-{name}", "fresh 16-bucket run")
        try:
            r = run_with_lineage(df, "key", out, n_buckets=n_buckets)
        finally:
            sc.setJobGroup(None, None)
        assert r["rows"] == 4000 and r["scans"] == 1
        for b in range(n_buckets):
            files = [f for f in os.listdir(os.path.join(out, f"bucket={b}"))
                     if f.endswith(".parquet")]
            assert 1 <= len(files) <= fpb, (name, b, len(files), fpb)
        return _write_stage_tasks(sc, f"lineage-{name}")

    assert run("coalesced") <= sc.defaultParallelism
    keys = ("spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "16b")
        assert run("split") > 1
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
