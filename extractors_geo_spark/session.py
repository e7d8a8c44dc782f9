"""SparkSession factory tuned for the engine.

Local-mode testing uses local[N] threads, but every config here is chosen
for multi-executor scale: AQE on (runtime skew-split + partition coalesce),
Arrow on (all Python crossings are vectorized), shuffle partitions sized to
the parallelism rather than the 200 default.

`local_table` builds the driver-side literal tables (query layers, empty
results) that the engine puts into plans.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from py4j.java_gateway import java_import
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "extractors_geo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Parse thread count out of local[N] to size shuffle partitions.
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # NOT the machine max: an oversized heap (e.g. 48g) makes G1 burn
        # 3-4x CPU in GC under the Arrow allocation churn of python stages
        # at high thread counts (measured: 300k-image pipeline 8.1s at 48g
        # vs 2.5s at 8g on local[32]). Real clusters size executor heaps
        # per-core anyway; 12g mirrors that.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep big binary rows from blowing up broadcast decisions
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # PySpark's per-call call-site capture wraps every Column method
        # and F.col: 5 py4j round trips, a Python stack walk and a failed
        # `import IPython` each, ~30% of a spatial query's plan-build round
        # trips. The cost is the origin (PySpark file:line) in DataFrame
        # error contexts; errors still name the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # single imports: py4j resolves `sc._jvm.<name>` against single
    # imports first, then tries each star-imported package in turn (a
    # failed Class.forName over the whole class path per miss). PySpark
    # looks these two up on nearly every Column and DataFrame call; JVM
    # CPU per lookup 207 -> 90 us on 4 cores.
    for name in ("org.apache.spark.sql.functions", "org.apache.spark.api.python.PythonUtils"):
        java_import(spark.sparkContext._jvm, name)
    return spark


def local_table(spark: SparkSession, rows: Iterable[Sequence], schema: StructType) -> DataFrame:
    """A literal table of `rows` (tuples in `schema` order) as a
    one-partition LocalRelation: the rows ride inside the plan, so running
    it starts no Python worker. `spark.createDataFrame(<list>)` instead
    parallelizes the list into a PythonRDD, a Python-worker job on every
    execution of every plan that reads it. An Arrow table takes the
    LocalRelation path below
    `spark.sql.execution.arrow.localRelationThreshold`, whatever the
    `arrow.pyspark` settings are. Its scan would split the rows over
    min(rows, cores) tasks; `coalesce(1)` (no shuffle) reads a literal
    layer of a few dozen rows, such as a broadcast side, in one task.

    Each call converts the rows to Arrow and ships them to the JVM: a
    caller that reads the same constant rows on every plan build keeps
    the result per session."""
    names = schema.names
    rows = list(rows)
    if any(len(r) != len(names) for r in rows):
        raise ValueError(f"local_table: every row needs {len(names)} values {names}")
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema).coalesce(1)
