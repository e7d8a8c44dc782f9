"""Catalog table maintenance — the pycsw transactions as table ops.

The reference maintains its catalog in an external CSW service:
  * CSW Transaction insert  (pycsw.extractor/pycswutils.py:26-65)  -> upsert
  * CSW Transaction delete  (pycsw.extractor/pycswutils.py:70-84)  -> delete

Here the catalog is a columnar table; MERGE semantics are expressed as
latest-wins window dedup, DELETE as a left-anti join. SnapshotTable's
merge and delete commits are built on these two. The removal anti-join
and the catalog-record document are driver queries
(`__spark_entry__.q_removal_antijoin`, `q_catalog_record_json`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert(catalog: DataFrame, updates: DataFrame, key: str = "identifier",
           order_col: str = "updated_at") -> DataFrame:
    """Latest-wins MERGE: union + row_number over (key order by ts desc).
    One shuffle on the key; AQE handles size. Equivalent to Iceberg
    `MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`."""
    unioned = catalog.withColumn("_src", F.lit(0)).unionByName(updates.withColumn("_src", F.lit(1)))
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc(), F.col("_src").desc())
    return unioned.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn", "_src")


def delete(catalog: DataFrame, identifiers: DataFrame, key: str = "identifier") -> DataFrame:
    """DELETE FROM catalog WHERE key IN (...) — anti-join rewrite (J3)."""
    return catalog.join(identifiers.select(key).distinct(), key, "left_anti")


