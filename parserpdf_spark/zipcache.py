"""Stop zip-archive imports from re-reading their archive on every task.

A PySpark worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.setup_spark_files``).  On CPython < 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
central directory on the spot, once per zipimporter, and a worker that
imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds one
zipimporter per package imported from it.  That is ~16 reads of ~1,670
entries, a few hundred milliseconds, before each task's first row.
CPython 3.13 made the re-read lazy (gh-103200).

:func:`install` replaces the method with one that re-reads an archive
only when its ``(mtime_ns, size)`` changed since the last read, so a
rewritten archive is still picked up.  The first call per archive reads
it once to take its stamp.  ``parserpdf_spark/__init__.py`` calls
:func:`install`, so every worker that unpickles an engine function
installs it once for the life of that (reused) worker.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (mtime_ns, size), taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}
_eager_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _lazy_invalidate_caches(self) -> None:
    """Reload the archive's file data if the archive changed."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _eager_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> bool:
    """Install the lazy method where the stdlib one is eager; idempotent.
    Returns whether the lazy method is installed."""
    if sys.version_info >= (3, 13) or _eager_invalidate is None:
        return False
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    return True
