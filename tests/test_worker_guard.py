"""The zip-directory guard a Spark Python worker installs on its first import
of the package (pimbloomfilters_spark/_worker.py): an unchanged archive is
not re-read on importlib.invalidate_caches(), a changed one still is, and
nothing is patched outside a worker or on CPython >= 3.13."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pyspark
import pytest

from pimbloomfilters_spark import _worker


@pytest.fixture
def worker_flag(monkeypatch):
    """Pretend to be a Spark Python worker; restore the real
    invalidate_caches and the guard's memo afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_worker, "_read_at", {})
    monkeypatch.setattr(pyspark.SparkFiles, "_is_running_on_worker", True)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding a package with module ``a``, imported so
    that two zipimporters (the archive root and the package) are cached.
    Returns (path, package name, writer of the package's modules)."""
    path = str(tmp_path / "lib.zip")
    pkg = f"pbf_guard_{uuid.uuid4().hex}"

    def write(*mods):
        with zipfile.ZipFile(path, "w") as z:  # rewrites in place, same inode
            z.writestr(f"{pkg}/__init__.py", "")
            for m in mods:
                z.writestr(f"{pkg}/{m}.py", f"NAME = {m!r}\n")

    write("a")
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module(f"{pkg}.a").NAME == "a"
    yield path, pkg, write
    for name in list(sys.modules):
        if name.startswith(pkg):
            del sys.modules[name]
    for key in list(sys.path_importer_cache):
        if key.startswith(path):
            del sys.path_importer_cache[key]


@pytest.fixture
def read_counter(monkeypatch):
    """Count zipimport's central-directory reads, per archive path."""
    counts: dict = {}
    real = zipimport._read_directory

    def counted(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return counts


needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy on 3.13+")


@needs_guard
def test_unchanged_archive_is_not_reread(worker_flag, archive, read_counter):
    path, _, _ = archive
    importlib.invalidate_caches()  # unguarded: each importer re-reads
    assert read_counter.get(path) == 2
    assert _worker.install_zip_cache_guard()
    importlib.invalidate_caches()  # first guarded call records the archive
    read_counter.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_counter.get(path, 0) == 0


@needs_guard
def test_rewritten_archive_is_reread(worker_flag, archive, read_counter):
    path, pkg, write = archive
    assert _worker.install_zip_cache_guard()
    importlib.invalidate_caches()
    write("a", "b")
    read_counter.clear()
    importlib.invalidate_caches()
    # one read serves both importers of the archive
    assert read_counter.get(path) == 1
    assert importlib.import_module(f"{pkg}.b").NAME == "b"


def test_driver_is_not_patched(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(pyspark.SparkFiles, "_is_running_on_worker", False)
    assert not _worker.install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not _worker.guard_installed()


def test_python_313_is_not_patched(worker_flag, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _worker.install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is original


@needs_guard
def test_second_install_does_nothing(worker_flag):
    assert _worker.install_zip_cache_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    assert not _worker.install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_spark_worker_reports_guard_installed(spark):
    from pimbloomfilters_spark.operators.build import flatten_arrow

    def probe(batches):
        n = sum(flatten_arrow(b.column(0)).size for b in batches)
        yield pa.RecordBatch.from_arrays(
            [pa.array([n]), pa.array([_worker.guard_installed()])],
            names=["n", "guarded"])

    rows = (spark.range(64, numPartitions=4)
            .mapInArrow(probe, "n long, guarded boolean").collect())
    assert sum(r["n"] for r in rows) == 64
    assert {r["guarded"] for r in rows} == {sys.version_info < (3, 13)}
