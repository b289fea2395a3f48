"""Stamp-checked zipimport invalidation (capsbm25/_zipimport_cache.py).

The unit tests need no Spark: they drive ``importlib.invalidate_caches()``
over a zipimporter for a small archive and count directory reads. The
worker test runs the same count inside reused Python workers.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from capsbm25 import _zipimport_cache  # the package import installs it

EAGER = sys.version_info < (3, 13)


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with its importer in sys.path_importer_cache, and
    a list that records every directory read of that archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_m1": "X = 1\n"})
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(sys, "path", [path] + sys.path)
    monkeypatch.setitem(sys.path_importer_cache, path,
                        zipimport.zipimporter(path))
    yield path, reads
    zipimport._zip_directory_cache.pop(path, None)
    for name in ("zc_m1", "zc_m2"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_read_once(archive):
    path, reads = archive
    importlib.invalidate_caches()
    first = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) - first == 0
    assert importlib.import_module("zc_m1").X == 1


def test_rewritten_archive_is_read_again(archive):
    path, reads = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    before = len(reads)
    _write_zip(path, {"zc_m1": "X = 1\n", "zc_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_m2").Y == 2
    importlib.invalidate_caches()
    assert len(reads) - before == 1  # the rewrite, read once


def test_missing_archive_takes_the_original_path(archive):
    path, reads = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()  # stat fails: the original clears it
    assert path not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[path]._files == {}


def test_installed_once_and_only_before_3_13():
    fn = zipimport.zipimporter.invalidate_caches
    assert getattr(fn, "stamp_checked", False) is EAGER
    importlib.reload(_zipimport_cache)
    importlib.reload(_zipimport_cache)
    assert zipimport.zipimporter.invalidate_caches is fn
    if EAGER:
        assert not getattr(fn.__wrapped__, "stamp_checked", False)


def test_reused_workers_skip_the_archive_reads(spark):
    """More partitions than local[8] slots, so workers run several tasks.
    On a worker's first task the UDF puts a read counter on the zipimport
    module; each later task returns the reads since the previous task on
    that worker ended, which covers this task's setup and its
    ``importlib.invalidate_caches()``."""

    def probe(batches):
        import os
        import zipimport

        import capsbm25  # noqa: F401

        counter = getattr(zipimport, "_capsbm25_test_reads", None)
        if counter is None:
            original = zipimport._read_directory
            counter = [0, 0]  # reads so far, reads when the last task ended

            def counting(archive):
                counter[0] += 1
                return original(archive)

            zipimport._read_directory = counting
            zipimport._capsbm25_test_reads = counter
            delta = -1
        else:
            delta = counter[0] - counter[1]
        for pdf in batches:
            yield pdf.assign(pid=os.getpid(), delta=delta).head(1)
        counter[1] = counter[0]

    rows = (spark.range(0, 64, numPartitions=64)
            .mapInPandas(probe, "id long, pid long, delta long")
            .collect())
    later = [r.delta for r in rows if r.delta >= 0]
    assert len(rows) == 64 and later, rows
    assert all(d == 0 for d in later), sorted(later)
