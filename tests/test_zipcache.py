"""The zip-directory cache (parquet_go_spark/_zipcache.py): an unchanged
archive is not re-parsed by ``importlib.invalidate_caches()``, a changed
or deleted one behaves exactly as the stock Python 3.11 importer."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from parquet_go_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the cache is a no-op from Python 3.12 on"
)

PKG = "zc_probe_pkg"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding a package with a subpackage, imported so that three
    importers (archive root, package, subpackage) share the archive.
    Yields (archive path, per-archive read counter)."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/mod.py": "X = 1\n",
    })
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module(f"{PKG}.sub.mod").X == 1
    yield archive, lambda: reads.count(archive)
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    _zipcache._stamps.pop(archive, None)


def _importers(archive):
    return [
        imp for key, imp in sys.path_importer_cache.items()
        if key.startswith(archive) and isinstance(imp, zipimport.zipimporter)
    ]


def test_installed_on_package_import():
    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, n_reads = zip_pkg
    assert len(_importers(archive)) >= 3
    before = n_reads()
    importlib.invalidate_caches()  # first pass stamps the archive: one read
    assert n_reads() == before + 1
    before = n_reads()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert n_reads() == before
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in _importers(archive))


def test_changed_archive_is_reread_and_new_module_imports(zip_pkg):
    archive, n_reads = zip_pkg
    importlib.invalidate_caches()
    before = n_reads()
    _write_zip(archive, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/mod.py": "X = 1\n",
        f"{PKG}/sub/added.py": "Y = 2\n",
    })
    importlib.invalidate_caches()
    assert n_reads() == before + 1  # one read, shared by every importer
    assert importlib.import_module(f"{PKG}.sub.added").Y == 2
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in _importers(archive))


def test_replaced_archive_same_size_is_reread(zip_pkg):
    """A new inode (write-then-rename) is a change even at equal size."""
    archive, n_reads = zip_pkg
    importlib.invalidate_caches()
    before = n_reads()
    tmp = archive + ".new"
    _write_zip(tmp, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/mod.py": "X = 3\n",
    })
    assert os.path.getsize(tmp) == os.path.getsize(archive)
    os.replace(tmp, archive)
    importlib.invalidate_caches()
    assert n_reads() == before + 1


def test_deleted_archive_behaves_as_stock(zip_pkg):
    archive, _ = zip_pkg
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _zipcache._stamps
    assert all(imp._files == {} for imp in _importers(archive))


def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert not hasattr(patched.__wrapped__, "__wrapped__")


def test_install_is_a_noop_from_python_312(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.spark
def test_spark_workers_keep_pyspark_zip_cached(spark):
    """PySpark invalidates import caches at every task start; once a
    worker has imported the engine, that costs it no pyspark.zip read."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import os
        import time
        import zipimport

        import pyspark

        import parquet_go_spark  # noqa: F401  (installs the cache)

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "t_ns": [time.monotonic_ns()],
            "patched": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
            "zip_reads": [sum(os.path.basename(p) == "pyspark.zip" for p in reads)],
            "from_zip": [".zip" + os.sep in pyspark.__file__],
        })

    rows = (
        spark.range(16, numPartitions=16)
        .mapInArrow(probe, "pid long, t_ns long, patched boolean, zip_reads long, from_zip boolean")
        .collect()
    )
    assert len(rows) == 16
    if not any(r["from_zip"] for r in rows):
        pytest.skip("workers do not import pyspark from pyspark.zip here")
    assert all(r["patched"] for r in rows)
    by_worker = {}
    for r in sorted(rows, key=lambda r: r["t_ns"]):
        by_worker.setdefault(r["pid"], []).append(r["zip_reads"])
    later = [n for reads in by_worker.values() for n in reads[1:]]
    assert later, "no worker ran a second task"
    assert later == [0] * len(later)
