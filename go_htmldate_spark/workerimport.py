"""Stat-guarded zip-directory reloads in PySpark Python workers.

Every PySpark worker task calls ``importlib.invalidate_caches()`` after
it sets up its ``--py-files`` (``pyspark/worker_util.py``). On Python
< 3.13 that makes each ``zipimport.zipimporter`` re-read its archive's
central directory at once. A worker that imports pyspark from
``pyspark.zip`` (1,328 entries) holds ~16 importers on it, one per
imported subpackage, so each task re-parses ~27k directory entries
before it reaches the UDF: 200-360 ms of its setup. Python 3.13 made
the reload lazy.

``install()`` replaces ``zipimporter.invalidate_caches`` in a worker
with a version that re-reads an archive only when its (inode, size,
mtime_ns) stamp changed since the last read; otherwise it points the
importer at the directory already in ``zipimport._zip_directory_cache``.
The stamp is taken before the read, so a rewrite racing a read leaves
a stale stamp and forces the next call to read again. A rewrite is
missed only if it keeps the inode, the size and the nanosecond mtime,
a stricter stamp than the (size, mtime-seconds) CPython trusts to
validate its own ``.pyc`` files.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path → stamp of the file whose directory the cache holds
_stamps: dict[str, tuple[int, int, int]] = {}
_reload = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp:
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None:
            self._files = files
            return
    _reload(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Install the guard in a PySpark worker on Python < 3.13; a no-op
    anywhere else. Returns whether the guard is active."""
    # Spark's Python worker factory hands every worker process its secret
    in_worker = "PYTHON_WORKER_FACTORY_SECRET" in os.environ
    if sys.version_info >= (3, 13) or not in_worker:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
