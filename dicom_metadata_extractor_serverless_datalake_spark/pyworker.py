"""Python-worker set-up cost: re-read a zip archive only when it changed.

Before every task, pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 and 3.12 that makes
every live ``zipimport.zipimporter`` re-read its archive's whole central
directory. A worker holds one zipimporter per imported pyspark
subpackage, all on ``pyspark.zip``, plus more for jars and shipped
package zips: about 26 700 directory entries re-parsed in pure Python
per task, ~250 ms of each task that runs Python (CPython 3.13 made the
re-read lazy).

:func:`install_zip_guard` wraps ``zipimporter.invalidate_caches`` so an
archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the last read of it. A changed, replaced or deleted archive
is re-read exactly as before (like ``FileFinder``'s directory-mtime
check, a rewrite that keeps all three equal goes unseen); ``FileFinder``
caches are untouched, so directories added to ``sys.path`` are still
seen. The package
``__init__`` installs it once per worker process; the driver keeps the
stock method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (stat key before its last good read, the directory read)
_LAST_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's stat key matches the last read of that archive."""
    archive = self.archive
    key = _stat_key(archive)  # taken before the read: a later change shows next time
    last = _LAST_READ.get(archive)
    if key is None or last is None or last[0] != key:
        _STOCK_INVALIDATE(self)
        if key is None or zipimport._zip_directory_cache.get(archive) is not self._files:
            _LAST_READ.pop(archive, None)  # gone or unreadable: stock result stands
            return
        last = _LAST_READ[archive] = (key, self._files)
    self._files = last[1]
    zipimport._zip_directory_cache[archive] = last[1]


def install_zip_guard() -> None:
    """Install the guard in this process (idempotent). Every live
    zipimporter is read once more now, under its stat key, so the next
    ``importlib.invalidate_caches()`` already skips unchanged archives;
    importers of one archive share that single read."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
