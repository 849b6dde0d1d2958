"""The package's stat-keyed zip invalidation (``s2_geometry_rust_spark``
``__init__``): ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed on disk, in the test process and
in Spark's Python UDF workers, where ``pyspark.zip`` is on the path and
every task invalidates."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import s2_geometry_rust_spark


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    if sys.version_info >= (3, 13):
        # zipimport re-reads lazily there; the package must not patch it
        assert not hasattr(zipimport.zipimporter.invalidate_caches,
                           "stat_keyed")
        assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
        return
    archive = tmp_path / "s2zip_mods.zip"
    _write_zip(archive, {"s2zip_mod_a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        _check_rereads(archive, monkeypatch)
    finally:
        for name in ("s2zip_mod_a", "s2zip_mod_b"):
            sys.modules.pop(name, None)


def _check_rereads(archive, monkeypatch) -> None:
    assert importlib.import_module("s2zip_mod_a").A == 1

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive (new size and mtime) is still re-read
    _write_zip(archive, {"s2zip_mod_a.py": "A = 1\n",
                         "s2zip_mod_b.py": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("s2zip_mod_b").B == 2
    # and the new directory is stamped: invalidating again reads nothing
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the package installs nothing on CPython >= 3.13")
def test_package_install_is_idempotent():
    method = zipimport.zipimporter.invalidate_caches
    s2_geometry_rust_spark._stat_keyed_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method


def test_udf_workers_do_not_reread_zip_directories(spark):
    """Each of 8 tasks imports the package in its worker, then counts
    the zip directory reads of one ``importlib.invalidate_caches()``
    (the call Spark's worker makes at the start of every task): none,
    while the worker has zip archives (``pyspark.zip``) cached."""

    def reads(ids: pd.Series) -> pd.DataFrame:
        import importlib
        import zipimport

        import s2_geometry_rust_spark  # noqa: F401

        archives = len(zipimport._zip_directory_cache)
        count = [0]
        real = zipimport._read_directory

        def counting(path):
            count[0] += 1
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return pd.DataFrame({
            "reads": [count[0]] * len(ids),
            "archives": [archives] * len(ids),
        })

    udf = F.pandas_udf(reads, "reads long, archives long")
    rows = (spark.range(0, 64, numPartitions=8)
            .select(udf("id").alias("r")).select("r.*").collect())
    assert len(rows) == 64
    assert all(r["archives"] > 0 for r in rows)
    assert [r["reads"] for r in rows] == [0] * 64
