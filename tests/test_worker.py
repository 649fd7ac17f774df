"""Lazy ``zipimporter.invalidate_caches`` in Spark Python workers: an
unchanged archive is not re-read, a rewritten one is, and only worker
processes on CPython < 3.13 carry the patch."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from poppy_spark import _worker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding package ``zpkg``, imported so that two
    importers (the archive root and ``zpkg/``) share one archive; the
    stdlib ``invalidate_caches`` and the stamp table come back afterwards."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zpkg/__init__.py": "", "zpkg/one.py": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_worker, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    import zpkg.one  # noqa: F401

    yield archive
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch, archive):
    reads = []
    stdlib_read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib is already lazy")
class TestLazyZipInvalidation:
    def test_unchanged_zip_is_not_reread(self, zip_on_path, monkeypatch):
        importers = [
            v for k, v in sys.path_importer_cache.items() if k.startswith(zip_on_path)
        ]
        assert len(importers) == 2
        reads = _count_reads(monkeypatch, zip_on_path)
        importlib.invalidate_caches()
        assert len(reads) == 2  # stdlib: once per importer

        assert _worker.install_lazy_zip_invalidation()
        importlib.invalidate_caches()
        assert len(reads) == 3  # first call: once per archive, stamp recorded
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 3
        assert {id(i._files) for i in importers} == {
            id(zipimport._zip_directory_cache[zip_on_path])
        }

    def test_rewritten_zip_is_importable(self, zip_on_path, monkeypatch):
        assert _worker.install_lazy_zip_invalidation()
        importlib.invalidate_caches()
        _write_zip(
            zip_on_path,
            {"zpkg/__init__.py": "", "zpkg/one.py": "X = 1\n", "zpkg/two.py": "Y = 2\n"},
        )
        reads = _count_reads(monkeypatch, zip_on_path)
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("zpkg.two").Y == 2


def test_noop_on_313(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _worker.install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def _worker_report(batches):
    import importlib
    import zipimport

    import pyarrow as pa

    reads = []
    stdlib_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stdlib_read(path)

    importlib.invalidate_caches()  # archives this worker has not stamped yet
    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stdlib_read
    impl = zipimport.zipimporter.invalidate_caches
    for b in batches:
        yield pa.RecordBatch.from_pydict(
            {
                "impl": [f"{impl.__module__}.{impl.__name__}"] * b.num_rows,
                "reads": [len(reads)] * b.num_rows,
            }
        )


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib is already lazy")
def test_installed_in_workers_only(spark):
    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(_worker_report, "impl string, reads long")
        .distinct()
        .collect()
    )
    assert [(r["impl"], r["reads"]) for r in rows] == [
        ("poppy_spark._worker._lazy_invalidate_caches", 0)
    ]
    assert zipimport.zipimporter.invalidate_caches is _worker._stdlib_invalidate_caches
