"""Python-worker import cost: Spark's worker calls
importlib.invalidate_caches() at the start of every task. The package
makes that cheap on CPython < 3.12 (`_lazy_zipimport_invalidation`): an
invalidation no longer re-reads the directory of every zip on sys.path,
yet a zip rewritten or added between tasks is still imported from."""

import importlib
import sys
import zipfile
import zipimport

import extractors_geo_spark as egs
from extractors_geo_spark import datagen


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_invalidate_caches_does_not_reread_zips(tmp_path, monkeypatch):
    zpath = str(tmp_path / "egs_lazy_probe.zip")
    _write_zip(zpath, {"egs_lazy_probe_a": 1})
    names = ("egs_lazy_probe_a", "egs_lazy_probe_b")
    monkeypatch.setattr(sys, "path", [zpath] + sys.path)
    try:
        assert importlib.import_module("egs_lazy_probe_a").VALUE == 1
        calls, real = [], zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda archive: calls.append(archive) or real(archive))
        for _ in range(10):
            importlib.invalidate_caches()
        assert calls == []

        # the lazy re-read still sees an archive rewritten in place
        _write_zip(zpath, {"egs_lazy_probe_a": 1, "egs_lazy_probe_b": 2})
        importlib.invalidate_caches()
        assert importlib.import_module("egs_lazy_probe_b").VALUE == 2
        assert calls == [zpath]
    finally:
        for name in names:
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zpath, None)
        zipimport._zip_directory_cache.pop(zpath, None)


def test_py_file_added_after_engine_udf_is_imported(spark, tmp_path):
    """sc.addPyFile after the workers ran an engine UDF: the next task
    imports from the new zip, and in that worker an invalidation reads no
    zip directory."""
    assert datagen.images_df(spark, 8, px=8, partitions=4).select("image_id").collect()

    zpath = tmp_path / "egs_pyfile_probe.zip"
    _write_zip(zpath, {"egs_pyfile_probe": 42})
    spark.sparkContext.addPyFile(str(zpath))

    def probe(_):
        # `egs` in the closure: unpickling this imports the package
        import egs_pyfile_probe

        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or real(a)
        try:
            for _ in range(3):
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield egs.__name__, egs_pyfile_probe.VALUE, len(calls)

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert got == [("extractors_geo_spark", 42, 0)] * 4
