"""Per-task tuning of Spark Python workers.  Lazy
``zipimporter.invalidate_caches``: an unchanged archive is not re-read, a
rewritten one is, and only worker processes on CPython < 3.13 carry the
patch.  The task-start ``gc.freeze()``: workers start each task with their
long-lived objects frozen, keep no task's objects frozen, and the driver
freezes nothing."""

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



#: Runs in a fresh ``local[2]`` session, so every worker in its small pool
#: has run library tasks by the 10th build.  After builds 10 and 20, one
#: 8-task probe reports, per task, the worker's pid, whether an earlier
#: task imported ``poppy_spark`` (the probe, pickled by value from
#: ``__main__``, imports nothing new), and its frozen and unfrozen object
#: counts as the task found them.
_FRESH_SESSION_SCRIPT = """
import json
from pyspark.sql import functions as F
from poppy_spark.sketches import HllSketch
from poppy_spark.spark.agg import build_sketch_grouped
from poppy_spark.spark.session import get_spark


def report(batches):
    import gc, os, sys
    import pyarrow as pa

    row = [os.getpid(), "poppy_spark" in sys.modules, gc.get_freeze_count(),
           len(gc.get_objects())]
    for b in batches:
        yield pa.RecordBatch.from_pylist([dict(zip(["pid", "lib", "frozen", "unfrozen"], row))])


spark = get_spark(app_name="freeze-at-task-start", master="local[2]", shuffle_partitions=2)
df = spark.range(0, 2000, numPartitions=4).select(
    (F.col("id") % 8).alias("g"), F.format_string("k%d", "id").alias("k")
)
probes = {}
for job in range(1, 21):
    build_sketch_grouped(df, "k", ["g"], HllSketch.factory(10)).collect()
    if job in (10, 20):
        probe = spark.range(0, 8, numPartitions=8).mapInArrow(
            report, "pid long, lib boolean, frozen long, unfrozen long"
        )
        probes[job] = [r.asDict() for r in probe.collect()]
spark.stop()
print(json.dumps(probes))
"""


@pytest.fixture(scope="module")
def probes():
    """``{build: probe rows}`` of :data:`_FRESH_SESSION_SCRIPT`."""
    import json
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION_SCRIPT],
        capture_output=True, text=True, check=True, cwd=root, env=env, timeout=600,
    ).stdout
    return {int(k): v for k, v in json.loads(out.splitlines()[-1]).items()}


class TestFreezeAtTaskStart:
    def test_next_task_starts_frozen(self, probes):
        """A worker that ran a library task starts its next task with the
        survivors of the daemon's after-task collection frozen: what the
        collection still walks is a small fraction of what it holds."""
        rows = [r for job in (10, 20) for r in probes[job] if r["lib"]]
        assert rows
        for r in rows:
            assert r["frozen"] > 0, r
            assert r["unfrozen"] < 0.1 * r["frozen"], r

    def test_driver_freezes_nothing(self):
        """Importing the package outside a Spark task installs no hook: a
        later ``importlib.invalidate_caches()`` freezes nothing."""
        import subprocess

        code = (
            "import gc, importlib, sys\n"
            "import pyspark.sql, poppy_spark, poppy_spark.spark\n"
            "importlib.invalidate_caches()\n"
            "hooks = [f for f in sys.meta_path if f.__module__.startswith('poppy_spark')]\n"
            "print(gc.get_freeze_count(), len(hooks))\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, check=True
        ).stdout.split()
        assert out == ["0", "0"]

    def test_frozen_count_does_not_grow_per_task(self, probes):
        """Between grouped build 10 and build 20 a worker's frozen set grows
        by at most a few objects: the per-task freeze keeps no task's
        objects alive."""
        at = [{r["pid"]: r["frozen"] for r in probes[job] if r["lib"]} for job in (10, 20)]
        both = at[0].keys() & at[1].keys()
        assert both
        for pid in both:
            assert at[0][pid] > 0
            assert at[1][pid] - at[0][pid] < 200, (pid, at)
