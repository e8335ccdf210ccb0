"""The Python-worker shim (``idzebra_spark._pyworker``): inside a Spark
task on CPython < 3.12, ``importlib.invalidate_caches()`` re-reads a
zip archive's directory only when the archive changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write ``modules`` ({archive name: source}) to a new file that
    replaces ``path``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """(archive path, read counter) for a zip-imported package
    ``zzqpkg``, with the shim in place of zipimporter's method. The
    counter lists each ``_read_directory`` of the archive."""
    from idzebra_spark import _pyworker

    archive = str(tmp_path / "zzqpkg.zip")
    _write_zip(archive, {"zzqpkg/__init__.py": "",
                         "zzqpkg/a.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pyworker._invalidate_caches)
    monkeypatch.setattr(_pyworker, "_read", {})
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zzqpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache
                if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(zip_pkg):
    """Once read under the shim, an unchanged archive is not re-read by
    any of its importers; a replaced archive is re-read, and a module
    it adds imports."""
    archive, reads = zip_pkg
    assert importlib.import_module("zzqpkg.a").X == 1
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive)]
    assert len(importers) == 2  # the archive root and its zzqpkg/
    reads.clear()  # the importers' own first read
    importlib.invalidate_caches()
    assert len(reads) == 1  # one read serves both importers
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zzqpkg/__init__.py": "",
                         "zzqpkg/a.py": "X = 1\n",
                         "zzqpkg/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zzqpkg.b").Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_installed_only_in_a_task_before_python_312(monkeypatch):
    """The driver (this test session) keeps zipimporter's own method:
    it has no TaskContext. Inside a task the shim is installed on
    CPython < 3.12 only."""
    import idzebra_spark  # noqa: F401  (its import runs install())
    from pyspark import TaskContext

    from idzebra_spark import _pyworker

    original = _pyworker._original
    assert TaskContext.get() is None
    assert zipimport.zipimporter.invalidate_caches is original

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        original)
    monkeypatch.setattr(TaskContext, "_taskContext",
                        object.__new__(TaskContext))
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original
    monkeypatch.setattr(sys, "version_info", (3, 11, 7))
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is \
        _pyworker._invalidate_caches


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 re-reads zip directories lazily")
def test_warm_spark_workers_reread_no_zip(spark):
    """In a Spark worker that has imported the package, the per-task
    ``importlib.invalidate_caches()`` re-reads no zip archive. Each
    task imports the package as an engine kernel's unpickling does,
    then counts the archive reads of one invalidate_caches()."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        warm = "idzebra_spark" in sys.modules
        import idzebra_spark  # noqa: F401

        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        importers = sum(isinstance(v, zipimport.zipimporter)
                        for v in sys.path_importer_cache.values())
        yield pd.DataFrame({"pid": [os.getpid()], "warm": [warm],
                            "importers": [importers],
                            "reads": [len(reads)]})

    schema = "pid long, warm boolean, importers long, reads long"
    runs = [spark.range(2, numPartitions=2).mapInPandas(probe, schema)
            .collect() for _ in range(2)]
    second = [r for r in runs[1] if r["warm"]]
    assert second, runs
    assert all(r["importers"] > 0 for r in second), second
    assert all(r["reads"] == 0 for r in second), second
