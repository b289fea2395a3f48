"""Stamp-checked ``zipimporter.invalidate_caches`` for Python < 3.13.

Before 3.13 ``zipimporter.invalidate_caches`` re-reads its archive's
central directory on every call, and PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task. A reused
worker holds a dozen importers over pyspark.zip, the py4j zip and the
spark-core jar, so every Python task re-read all of them (~0.2 s).

Imported first by the package, this wraps the method once per process.
An importer whose archive still has the (mtime, size, inode) stamp of its
last real read takes the cached directory; a changed archive, a failed
stat or an archive gone from ``_zip_directory_cache`` takes the original
path. Importers stay where they are, so nothing else in the import system
changes. 3.13 made the method lazy upstream, so there this does nothing.
"""

import functools
import os
import sys
import zipimport

_stamps = {}  # archive path -> (st_mtime_ns, st_size, st_ino) of its last read


def _stamp(path):
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _install():
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stamp_checked", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            return original(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        # The stamp is taken before the read: a write racing the read
        # leaves a stale stamp, so the next call reads again.
        original(self)
        _stamps[self.archive] = stamp

    invalidate_caches.stamp_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Stamp the importers already on the path (one read per archive), so
    # the next task's invalidation is already a stat per importer.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if sys.version_info < (3, 13):
    _install()
