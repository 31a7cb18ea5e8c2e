"""The package's mtime-checked ``zipimporter.invalidate_caches``
(``opentelemetry_collector_contrib_spark._backport_lazy_zip_invalidation``):
an unchanged archive is not re-read, a rewritten one is, and Python
3.12+ keeps the stdlib method. The last test checks that pandas-UDF
workers running an engine UDF have it installed."""

import glob
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

import opentelemetry_collector_contrib_spark as pkg

BACKPORTED = sys.version_info < (3, 12)


def _write_zip(path, modules: dict) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on sys.path; sys.path, its importer and the
    modules it served are restored afterwards."""
    archive = str(tmp_path / "lib.zip")
    names = []
    sys.path.insert(0, archive)
    yield archive, names
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for n in names:
        sys.modules.pop(n, None)


def _import(names, name):
    names.append(name)
    return importlib.import_module(name)


def _count_reads(monkeypatch, *archives) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path in archives:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(not BACKPORTED, reason="stdlib invalidation is lazy")
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    archive, names = zip_on_path
    _write_zip(archive, {"zi_unchanged": "X = 1\n"})
    importlib.invalidate_caches()
    assert _import(names, "zi_unchanged").X == 1
    importlib.invalidate_caches()  # the importer's first stamp
    reads = _count_reads(monkeypatch, archive)
    for _ in range(10):
        importlib.invalidate_caches()
    assert reads == []
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)


@pytest.mark.skipif(not BACKPORTED, reason="stdlib invalidation is lazy")
def test_first_invalidation_reads_only_archives_newer_than_the_interpreter(
        zip_on_path, monkeypatch):
    """An importer's first invalidation after the patch is installed
    (a worker's second task) stamps an archive that last changed before
    the interpreter started without reading it: every read the importer
    holds came later. An archive written since is read once."""
    older = min(glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "python", "lib", "*.zip")))
    archive, names = zip_on_path
    _write_zip(archive, {"zi_fresh": "X = 1\n"})
    importers = [zipimport.zipimporter(older), zipimport.zipimporter(archive)]
    reads = _count_reads(monkeypatch, older, archive)
    for importer in importers:
        importer.invalidate_caches()
    assert reads == [archive]
    for importer in importers:
        importer.invalidate_caches()
    assert reads == [archive]


def test_rewritten_archive_is_reread(zip_on_path):
    archive, names = zip_on_path
    _write_zip(archive, {"zi_first": "X = 1\n"})
    importlib.invalidate_caches()
    assert _import(names, "zi_first").X == 1
    importlib.invalidate_caches()
    _write_zip(archive, {"zi_first": "X = 1\n", "zi_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert _import(names, "zi_second").Y == 2


def test_removed_archive_falls_through_to_stdlib(zip_on_path):
    archive, names = zip_on_path
    _write_zip(archive, {"zi_gone": "X = 1\n"})
    importlib.invalidate_caches()
    _import(names, "zi_gone")
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}


def test_python_312_keeps_stdlib_method(monkeypatch):
    def stdlib(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    pkg._backport_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    pkg._backport_lazy_zip_invalidation()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched is not stdlib
    pkg._backport_lazy_zip_invalidation()  # installs once
    assert zipimport.zipimporter.invalidate_caches is patched


def test_workers_running_engine_udfs_have_the_backport(spark):
    """Every batch of an engine pandas UDF runs in a worker whose
    invalidate_caches is the package's (3.11) or the stdlib's (3.12+):
    unpickling any engine UDF imports the package."""
    from opentelemetry_collector_contrib_spark.functions.hashes import (
        fnv1a64_udf)

    @pandas_udf("string")
    def invalidate_owner(s: pd.Series) -> pd.Series:
        owner = zipimport.zipimporter.invalidate_caches.__module__
        return pd.Series([owner] * len(s))

    df = spark.range(0, 800, numPartitions=8)
    rows = (df.select(F.spark_partition_id().alias("p"),
                      fnv1a64_udf(F.col("id")).alias("h"),
                      invalidate_owner(F.col("id")).alias("owner"))
            .groupBy("p", "owner").agg(F.count("h").alias("n")).collect())
    assert len({r["p"] for r in rows}) == 8
    assert sum(r["n"] for r in rows) == 800  # the engine UDF ran
    expected = pkg.__name__ if BACKPORTED else "zipimport"
    assert {r["owner"] for r in rows} == {expected}
