"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

Every Spark Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. On CPython < 3.12 that
calls ``zipimport.zipimporter.invalidate_caches`` on every cached importer,
and each one eagerly re-reads its archive's central directory. A worker
that imported pyspark from ``pyspark.zip`` holds one importer per package
directory inside the zip (14–16 of them), so every task re-parses the same
1,300-entry directory that many times: 0.12–0.16 s measured on a 4-vCPU
box, before the task touches any data. CPython 3.12 made the method lazy
(gh-103200) and pays nothing.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the stamp taken at the
last re-read. The stamp is kept once per archive path and shared by all of
that archive's importers, so the first importer's re-read serves the rest.
A zip that is rewritten or newly shipped (``--py-files``, ``addPyFile``)
still has its directory re-read. On CPython >= 3.12 ``install()`` does
nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last re-read
_stamps: dict[str, tuple[int, int]] = {}
# __wrapped__ keeps a reload of this module from wrapping its own patch
_stdlib_invalidate = getattr(
    zipimport.zipimporter.invalidate_caches,
    "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data unless it is unchanged since the last
    reload (see the module docstring)."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    # stat BEFORE reading: a write racing the read leaves a stale stamp,
    # which only costs one more re-read next time
    _stdlib_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


_invalidate_caches.__wrapped__ = _stdlib_invalidate


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.12; idempotent.
    Returns whether the stamped method is installed."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
