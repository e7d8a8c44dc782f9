"""The two workloads.  Each is a fixed list of operations that one client
issues one at a time (a closed loop); a pass runs the list once.

* ingest  -- stored image+caption table -> extract_meta -> valid_meta ->
             pip_join (polygons_df) -> xyz_tiles(z=8), written by
             run_with_lineage (onepass, 16 buckets); then a fixed quarter
             of the buckets is unmarked and the job resumed.
* queries -- 4 short JVM-only spatial queries (SPATIAL_OPS) followed
             by 2 dedup/similarity queries (TEXT_OPS), all from
             ``__spark_entry__.queries()``, each to a noop sink.
"""

from __future__ import annotations

import glob
import os
import shutil

from . import check, inputs

SPATIAL_OPS = ("cell_ops", "pip_join", "bbox_join", "knn")
TEXT_OPS = ("ngram_jaccard", "embedding_topk")
INGEST_OPS = ("fresh", "resume")
BUCKETS = 16
RESUMED_BUCKETS = (0, 1, 2, 3)  # the fixed quarter redone on resume


class QueryWorkload:
    """``__spark_entry__.queries()`` entries over staged tables, each timed
    to a ``noop`` sink."""

    name = "queries"
    ops = SPATIAL_OPS + TEXT_OPS
    tables = ("lineitem", "documents", "embeddings")

    def stage(self, out_dir: str, seed: int) -> dict:
        return inputs.stage_queries(out_dir, seed)

    def bind(self, spark, data_dir: str, work_dir: str) -> None:
        import __spark_entry__ as E

        self.data_dir = data_dir
        self.queries = E.queries()

    def run_op(self, spark, op: str, tracer) -> None:
        with tracer.span(f"{op}.build"):
            df = self.queries[op](spark, self.data_dir)
        with tracer.span(f"{op}.exec"):
            df.write.format("noop").mode("overwrite").save()

    def after_op(self, op: str) -> bool:
        return True  # a noop sink keeps nothing to check; see check_outputs

    def capture(self, spark) -> None:
        """One untimed pass that collects every op's output instead of
        dropping it, and keeps its digest for check_outputs."""
        self.captured = {}
        for op in self.ops:
            df = self.queries[op](spark, self.data_dir)
            t = df.toArrow()
            self.captured[op] = check.digest(
                list(zip(*(t[c].to_pylist() for c in t.column_names))), df.columns)

    def check_outputs(self, spark, cache: check.OracleCache, seed: int, input_digest: str) -> dict:
        """Compare every op's captured output with its DuckDB twin."""
        import duckdb
        import __spark_entry__ as E

        oracles = E.oracle_sql()
        con = None
        ok: dict[str, bool] = {}
        for op in self.ops:
            sql = oracles[op]

            def compute(sql=sql):
                nonlocal con
                if con is None:
                    con = duckdb.connect()
                    for t in self.tables:
                        path = f"{self.data_dir}/{t}.parquet"
                        if os.path.isdir(path):
                            path += "/*.parquet"
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                return check.duckdb_digest(con, sql)

            want, _ = cache.get_or_compute(cache.key(seed, self.name, op, input_digest, sql), compute)
            ok[op] = self.captured[op] == want
            if not ok[op]:
                print(f"perfbench: {self.name}.{op} output differs: got {self.captured[op]} want {want}")
        if con is not None:
            con.close()
        return ok


class IngestWorkload:
    """The north-rule path through the write/commit/resume layer."""

    name = "ingest"
    ops = INGEST_OPS

    def __init__(self, cores: int):
        self.cores = cores
        self.out_dir = None
        self.n_out = 0

    def stage(self, out_dir: str, seed: int) -> dict:
        os.makedirs(out_dir)
        info = inputs.stage_images(out_dir, seed, self.cores)
        self.index_range = tuple(info["index_range"])
        return info

    def bind(self, spark, data_dir: str, work_dir: str) -> None:
        from extractors_geo_spark import datagen

        self.src = f"{data_dir}/images.parquet"
        self.work_dir = work_dir
        self.polys = datagen.polygons_df(spark)
        self.pairs_seen: list[dict] = []
        self.fresh_digest = None
        self.out_bytes: list[int] = []

    # -- pipeline stages, each a public call wrapped in its own span
    def _meta(self, part, tracer):
        from extractors_geo_spark.operators import extract_meta

        with tracer.span("extract_meta.build"):
            return extract_meta.valid_meta(
                extract_meta.extract_meta(part, with_stats=True, passthrough=("phash",)))

    def _pip(self, meta, tracer):
        from extractors_geo_spark.operators import pip_join

        with tracer.span("pip_join.build"):
            return pip_join.pip_join(meta, self.polys, point_cols=("image_id", "phash"),
                                     poly_cols=("poly_id", "name"))

    def _tiles(self, joined, tracer):
        from pyspark.sql import functions as F

        from extractors_geo_spark.operators import tiles

        with tracer.span("tiles.build"):
            flat = joined.select(
                "image_id", "poly_id",
                (F.col("lon") - 0.008).alias("minx"), (F.col("lat") - 0.008).alias("miny"),
                (F.col("lon") + 0.008).alias("maxx"), (F.col("lat") + 0.008).alias("maxy"),
            )
            return tiles.xyz_tiles(flat, zooms=(8,), passthrough=("image_id", "poly_id"))

    def transform(self, part, tracer):
        return self._tiles(self._pip(self._meta(part, tracer), tracer), tracer)

    def prefix(self, spark, depth: int, tracer) -> None:
        """Materialize the first `depth` stages (1 meta, 2 +pip, 3 +tiles)
        to a noop sink -- the prefix timings give each stage's self time."""
        df = self._meta(spark.read.parquet(self.src), tracer)
        if depth >= 2:
            df = self._pip(df, tracer)
        if depth >= 3:
            df = self._tiles(df, tracer)
        df.write.format("noop").mode("overwrite").save()

    def run_op(self, spark, op: str, tracer) -> None:
        """One fresh pass or one resume; after_op checks its output."""
        from extractors_geo_spark.streaming.lineage import LineageManifest, run_with_lineage

        if op == "fresh":
            self._drop_output()
            self.n_out += 1
            self.out_dir = f"{self.work_dir}/out{self.n_out}"
        else:
            manifest = LineageManifest(f"{self.out_dir}/_lineage")
            for b in RESUMED_BUCKETS:
                manifest.unmark(b)
        with tracer.span("lineage.run"):
            r = run_with_lineage(spark.read.parquet(self.src), "image_id", self.out_dir,
                                 n_buckets=BUCKETS, transform=lambda p: self.transform(p, tracer))
        want = list(RESUMED_BUCKETS) if op == "resume" else list(range(BUCKETS))
        if r["buckets_run"] != want:
            raise RuntimeError(f"{op} ran buckets {r['buckets_run']}, expected {want}")

    def capture(self, spark) -> None:
        """Nothing to collect: after_op reads back every op's output."""

    def _read_output(self):
        import pyarrow.dataset as ds

        t = ds.dataset(self.out_dir, format="parquet", partitioning="hive").to_table()
        return t.column_names, list(zip(*(t[c].to_pylist() for c in t.column_names)))

    def after_op(self, op: str) -> bool:
        """Every fresh pass must match the oracle's (image_id, poly_id)
        pairs; every resume must reproduce the fresh output exactly."""
        cols, rows = self._read_output()
        if op == "fresh":
            self.out_bytes.append(sum(os.path.getsize(p) for p in
                                      glob.glob(f"{self.out_dir}/bucket=*/*.parquet")))
            ii, pi = cols.index("image_id"), cols.index("poly_id")
            self.pairs_seen.append(
                check.digest(sorted({(r[ii], r[pi]) for r in rows}), ["image_id", "poly_id"]))
            self.fresh_digest = check.digest(rows, cols)
            return True
        return check.digest(rows, cols) == self.fresh_digest

    def _drop_output(self) -> None:
        if self.out_dir and os.path.isdir(self.out_dir):
            shutil.rmtree(self.out_dir)

    def oracle_sql(self) -> str:
        import __spark_entry__ as E

        return check.ranged_flagship_sql(E.oracle_sql()["flagship_pip"], *self.index_range)

    def expected(self, cache: check.OracleCache, seed: int, input_digest: str) -> dict:
        import duckdb

        sql = self.oracle_sql()

        def compute():
            con = duckdb.connect()
            try:
                return check.duckdb_digest(con, sql)
            finally:
                con.close()

        want, _ = cache.get_or_compute(cache.key(seed, self.name, "pairs", input_digest, sql), compute)
        return want

    def check_outputs(self, spark, cache, seed: int, input_digest: str) -> dict:
        """Resumes were checked in after_op; the (image_id, poly_id) pairs
        of every fresh pass are compared here, after timing, with the
        oracle's."""
        want = self.expected(cache, seed, input_digest)
        bad = [d for d in self.pairs_seen if d != want]
        for d in bad[:1]:
            print(f"perfbench: ingest.fresh output differs: got {d} want {want}")
        return {"fresh": not bad, "resume": True}


WORKLOADS = ("ingest", "queries")


def make(name: str, cores: int):
    if name == "ingest":
        return IngestWorkload(cores)
    if name == "queries":
        return QueryWorkload()
    raise ValueError(f"unknown workload {name!r}; choose one of {WORKLOADS}")
