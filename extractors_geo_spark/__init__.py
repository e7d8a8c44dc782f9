"""extractors_geo_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of the reference
extractors-geo (Clowder geospatial extractors: GeoTIFF/shapefile bounds
extraction, EPSG inference, 4326<->3857 reprojection, WMS tile-pyramid
generation, CSW catalog maintenance) as distributed Spark DataFrame
operators over image+caption tables.

Layout:
  session     SparkSession factory (Arrow, AQE, sane shuffle partitions)
  tiff        pure-Python (Geo)TIFF reader/writer used by datagen + decode UDFs
  datagen     deterministic synthetic images / polygons / events tables
  functions/  column-expression library (Mercator math, clamps, URLs, text)
  operators/  engine operators (extract_meta, cells, pip_join, knn, tiles,
              dedup, similarity, catalog)
  plans/      planner functions (broadcast-vs-partitioned, salting, splitting)
  sources/    table loaders
  streaming/  per-partition lineage + checkpoint/resume
"""

__version__ = "0.3.0"


def _lazy_zipimport_invalidation():
    """CPython 3.12's lazy zipimporter.invalidate_caches (gh-103200) on
    older interpreters. Spark's Python worker calls
    importlib.invalidate_caches() at the start of every task, and before
    3.12 each zipimporter then re-parses its whole archive directory in
    pure Python: pyspark.zip, the py4j zip and the spark-core jar, ~16
    importers in a reused worker, before the task sees a row. Here an
    invalidation only drops the archive from the shared directory cache,
    and `_files` re-reads it on its next use, so a py-file rewritten or
    added between tasks is still seen. Run at package import because
    unpickling any engine UDF imports this package in the worker."""
    import sys

    if sys.version_info >= (3, 12):
        return
    import zipimport

    def files(self):
        toc = zipimport._zip_directory_cache.get(self.archive)
        if toc is None:
            try:
                toc = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = toc
        return toc

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    # a data descriptor, so it also wins over the `_files` that importers
    # created before this import hold in their instance dict; __init__'s
    # assignment is dropped (it has already cached the directory)
    zipimport.zipimporter._files = property(files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zipimport_invalidation()


_API = {
        "get_spark": ("extractors_geo_spark.session", "get_spark"),
        "extract_meta": ("extractors_geo_spark.operators.extract_meta", None),
        "cells": ("extractors_geo_spark.operators.cells", None),
        "pip_join": ("extractors_geo_spark.operators.pip_join", None),
        "bbox_join": ("extractors_geo_spark.operators.bbox_join", None),
        "knn": ("extractors_geo_spark.operators.knn", None),
        "tiles": ("extractors_geo_spark.operators.tiles", None),
        "dedup": ("extractors_geo_spark.operators.dedup", None),
        "similarity": ("extractors_geo_spark.operators.similarity", None),
        "catalog": ("extractors_geo_spark.operators.catalog", None),
        "multimodal": ("extractors_geo_spark.operators.multimodal", None),
        "geo": ("extractors_geo_spark.functions.geo", None),
        "text": ("extractors_geo_spark.functions.text", None),
        "planner": ("extractors_geo_spark.plans.planner", None),
        "shapefile": ("extractors_geo_spark.sources.shapefile", None),
        "geojson": ("extractors_geo_spark.sources.geojson", None),
        "geopackage": ("extractors_geo_spark.sources.geopackage", None),
        "exif": ("extractors_geo_spark.exif", None),
        "h264": ("extractors_geo_spark.h264", None),
        "mp4": ("extractors_geo_spark.mp4", None),
        "subtitles": ("extractors_geo_spark.subtitles", None),
        "SnapshotTable": ("extractors_geo_spark.sources.snapshot_table", "SnapshotTable"),
        "run_with_lineage": ("extractors_geo_spark.streaming.lineage", "run_with_lineage"),
}


def __getattr__(name):
    """Lazy top-level API: `from extractors_geo_spark import pip_join` etc.
    without importing pyspark-heavy modules at package import time. The
    resolved value is cached in module globals so each name imports once
    per process."""
    import importlib

    if name not in _API:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    mod_name, attr = _API[name]
    mod = importlib.import_module(mod_name)
    val = getattr(mod, attr) if attr else mod
    globals()[name] = val
    return val
