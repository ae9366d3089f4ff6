"""The zip-directory cache ``dedup`` installs on import: a zip importer
re-reads its archive's directory on ``importlib.invalidate_caches()`` only
when the archive changed, in the test process and in the PySpark workers
(whose every task starts with that call)."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark.sql.functions as F
import pytest

import dedup  # noqa: F401  (installs the cache)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip path at the front of ``sys.path``; the path, the importer cache
    and ``sys.modules`` are restored afterwards."""
    archive = str(tmp_path / "mods.zip")
    saved_path, saved_cache = list(sys.path), dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        sys.modules.pop("m", None)
        sys.modules.pop("m2", None)


def _write_modules(archive: str, **modules: str) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        for name, text in modules.items():
            zf.writestr(f"{name}.py", text)


@pytest.fixture
def directory_reads(monkeypatch):
    """The archive paths ``zipimport`` parses a directory of, in order."""
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
    )
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, directory_reads):
    _write_modules(zip_on_path, m="V = 1\n")
    m = importlib.import_module("m")
    assert m.V == 1
    directory_reads.clear()  # the importer's own read when it was made

    # the first call re-reads the importer it has not seen, later ones do not
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 1
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 1

    # a rewrite changes the archive's size and mtime: re-read exactly once
    _write_modules(zip_on_path, m="V = 2\n# rewritten\n")
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 2
    assert importlib.reload(m).V == 2


def test_first_invalidation_sees_a_rewrite(zip_on_path, directory_reads):
    """An archive rewritten between its importer's creation and the first
    ``invalidate_caches()`` is re-read by that call. The rewrite moves
    ``m.py`` and adds ``m2``, so a stale directory would fail both."""
    _write_modules(zip_on_path, m="V = 1\n")
    m = importlib.import_module("m")
    directory_reads.clear()
    _write_modules(zip_on_path, pad="# moves m.py further in\n", m="V = 2\n", m2="W = 3\n")
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 1
    assert importlib.reload(m).V == 2
    assert importlib.import_module("m2").W == 3


def test_worker_tasks_reread_no_zip_directory(spark, config):
    """Inside a worker, a repeated ``invalidate_caches()`` (the call every
    task starts with) re-reads no archive. The first wrapped call re-reads
    each importer the wrapper has not seen, so only the repeat is counted.
    The count it replaces depends on the Spark install's layout (16
    importers over pyspark.zip, the py4j zip and the spark-core jar on a
    stock 4.x), so the test pins 0."""

    @F.pandas_udf("long")
    def rereads(x: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        import dedup  # noqa: F401  (as unpickling a dedup UDF does)

        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.Series([len(reads)] * len(x))

    rows = (
        spark.range(0, 64, numPartitions=config.conv_partitions)
        .select(F.spark_partition_id().alias("task"), rereads("id").alias("n"))
        .collect()
    )
    assert {r["task"] for r in rows} == set(range(config.conv_partitions))
    assert {r["n"] for r in rows} == {0}
