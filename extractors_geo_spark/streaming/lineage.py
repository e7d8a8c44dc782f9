"""Per-partition lineage + checkpoint/resume (SURVEY.md ST1, §4.2 item 4).

The reference gets resume for free from RabbitMQ ack/redelivery (pyclowder
contract, consumed at preview.geotiff/ncsa.geo.tiff.py:145-152): a crashed
worker's message is redelivered; completed messages are never reprocessed.

The engine's equivalent: a job is split into B deterministic buckets by
key hash; each bucket's output lands in its own hive partition dir, and a
commit marker (bucket id, row count, wall time — one small json object
per bucket, atomic PUT via pyarrow.fs) is written ONLY after the
bucket's data is durably committed. On restart, buckets already marked
are skipped — the job resumes mid-way with at-most-once reprocessing per
bucket and exactly-once output. Works identically on local paths and
object stores (the manifest never relies on appends or renames).

Execution: ONE Spark job per wave writes every unfinished bucket via
``partitionBy("bucket")`` with dynamic partition overwrite; commit markers
for all buckets in the wave are appended after the job commits. A
hash-bucket filter cannot prune parquet files (the hash is uncorrelated
with file stats), so a per-bucket loop would re-read the FULL source,
including the fat ``bytes`` column, once per bucket: a 64-bucket fresh
run = 64 full scans, 6.4 PB at 100 TB (VERDICT r02 #2). One pass reads
the source exactly once per wave. ``waves`` trades crash granularity for
scans: ``waves=4`` over 64 buckets = 4 scans, a crash loses at most 16
buckets of work. ``transform`` must keep ``key_col`` (the bucket of an
output row is recomputed from its key).

Write tasks: before the write, rows shuffle on (bucket, salt) with no
fixed partition count, so AQE coalesces the write stage to the data's
size — one task for a small wave, size-driven tasks at scale — and a
bucket still lands in at most ``files_per_bucket`` files. With AQE off
the write runs ``spark.sql.shuffle.partitions`` tasks under the same
bound. A fixed count would run at least one task per bucket whatever the
data, and every file-write task costs ~0.05–0.1 s CPU however little it
writes (each deserializes the Hadoop conf and opens a record writer): a
16-bucket ingest of ~166 KB would pay about a second of it.

Counters: per-bucket row counts live in the manifest — the per-partition
metrics the north rule asks for. Counts are read from the written parquet
footers (driver-side metadata, thread-pooled), never by re-scanning data.
"""

from __future__ import annotations

import json
import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fs as xfs


class LineageManifest:
    """Directory of per-bucket commit markers: ``bucket=K.json``, each
    written with ONE atomic PUT after the bucket's data is durable.

    This replaces the O_APPEND jsonl of earlier rounds: appends don't
    exist on S3/GCS, while a marker-per-bucket is object-store-portable
    (every PUT is atomic), crash-safe (a wave that dies mid-marking
    loses only unmarked buckets, never corrupts earlier markers) and
    concurrency-safe (writers of different buckets never touch the same
    object). All IO routes through pyarrow.fs (VERDICT r03 #4)."""

    def __init__(self, path: str, filesystem=None):
        self.fs, self.path = xfs.resolve(path, filesystem)
        xfs.mkdirs(self.fs, self.path)

    def _marker(self, bucket: int) -> str:
        return xfs.join(self.path, f"bucket={bucket}.json")

    def completed(self) -> dict[int, dict]:
        names = [
            i.path for i in xfs.listdir(self.fs, self.path)
            if i.base_name.startswith("bucket=") and i.base_name.endswith(".json")
        ]
        if not names:
            return {}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(names))) as ex:
            texts = list(ex.map(lambda p: xfs.read_text(self.fs, p), names))
        out: dict[int, dict] = {}
        for t in texts:
            if t:
                rec = json.loads(t)
                out[rec["bucket"]] = rec
        return out

    def mark(self, bucket: int, rows: int, seconds: float) -> None:
        rec = {"bucket": bucket, "rows": rows, "seconds": round(seconds, 3), "ts": time.time()}
        xfs.write_text(self.fs, self._marker(bucket), json.dumps(rec))

    def unmark(self, bucket: int) -> None:
        """Drop a bucket's marker (test/repair hook — forces reprocessing)."""
        if xfs.exists(self.fs, self._marker(bucket)):
            xfs.delete_file(self.fs, self._marker(bucket))


def _bucket_rows_from_footers(fs_, out_dir: str, bucket: int) -> int:
    """Row count of one committed bucket partition from parquet footers —
    driver-side metadata reads, no data scan, no extra Spark job."""
    import pyarrow.parquet as pq

    bdir = xfs.join(out_dir, f"bucket={bucket}")
    return sum(
        pq.read_metadata(i.path, filesystem=fs_).num_rows
        for i in xfs.listdir(fs_, bdir)
        if i.path.endswith(".parquet")
    )


def run_with_lineage(
    df: DataFrame,
    key_col: str,
    out_dir: str,
    n_buckets: int = 16,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    manifest_path: str | None = None,
    waves: int = 1,
    filesystem=None,
) -> dict:
    """Execute `transform(df)` with per-bucket resume (see module doc for
    the waves tradeoff). Returns
    {'buckets_run': [...], 'buckets_skipped': [...], 'rows': N, 'scans': S}.
    `filesystem` (optional pyarrow.fs.FileSystem) overrides the manifest/
    footer metadata fs; data writes always go through Spark's own FS layer.
    """
    meta_fs, out_norm = xfs.resolve(out_dir, filesystem)
    manifest = LineageManifest(
        manifest_path or xfs.join(out_norm, "_lineage"), filesystem=meta_fs
    )
    done = manifest.completed()
    bucket_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    todo = [b for b in range(n_buckets) if b not in done]
    skipped = sorted(b for b in range(n_buckets) if b in done)
    total = sum(done[b]["rows"] for b in skipped)
    ran: list[int] = []
    scans = 0

    # one write job per wave covers every bucket in the wave
    waves = max(1, min(waves, len(todo))) if todo else 0
    wave_size = -(-len(todo) // waves) if todo else 0
    from concurrent.futures import ThreadPoolExecutor

    for wi in range(waves):
        wave = todo[wi * wave_size : (wi + 1) * wave_size]
        if not wave:
            continue
        t0 = time.time()
        # fresh run / full wave: NO filter — the scan is the bare source
        part = df if len(wave) == n_buckets else df.filter(bucket_expr.isin(wave))
        out = transform(part) if transform else part
        if key_col not in out.columns:
            raise ValueError(
                f"transform must preserve key_col {key_col!r} (the bucket "
                f"of an output row is recomputed from its key); got "
                f"columns {out.columns}"
            )
        # the output row's bucket is recomputed from its (preserved) key;
        # dynamic overwrite replaces ONLY the partitions present in the
        # data, so committed buckets from earlier runs/waves are untouched
        out = out.withColumn("bucket", bucket_expr)
        # Bound the file fan-out (VERDICT r03 #1): without this, EVERY
        # upstream task holds rows of every bucket (the hash is uniform),
        # so partitionBy opens T x B files per wave — ~6.4M at 100 TB.
        # Shuffling on (bucket, salt) puts each bucket in at most
        # files_per_bucket = ceil(P/B) hash partitions (P = the shuffle
        # parallelism), independent of upstream task count. No explicit
        # count: AQE coalesces the partitions to the data's size (module
        # doc), and since it merges whole hash partitions a bucket still
        # lands in <= files_per_bucket tasks, i.e. files; with AQE off the
        # write runs P tasks, same bound. The shuffle moves post-transform
        # rows only (no fat source columns re-read).
        # "auto" under AQE-managed deployments is not an int (ADVICE r4 low)
        try:
            p = int(out.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            p = out.sparkSession.sparkContext.defaultParallelism or 200
        files_per_bucket = max(1, -(-p // n_buckets))
        out = (
            out.withColumn(
                "_salt",
                F.pmod(F.xxhash64(F.col(key_col), F.lit(17)), F.lit(files_per_bucket)),
            )
            .repartition(F.col("bucket"), F.col("_salt"))
            .drop("_salt")
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        scans += 1
        elapsed = time.time() - t0
        with ThreadPoolExecutor(max_workers=min(16, len(wave))) as ex:
            counts = list(ex.map(lambda b: _bucket_rows_from_footers(meta_fs, out_norm, b), wave))
        # markers appended only after the wave's job committed (the write
        # above raised on failure); per-bucket wall time is the wave's
        # share — lineage semantics need the ROWS exact, time is advisory
        for b, n in zip(wave, counts):
            manifest.mark(b, n, elapsed / len(wave))
            total += n
        ran.extend(wave)

    return {"buckets_run": ran, "buckets_skipped": skipped, "rows": total, "scans": scans}
