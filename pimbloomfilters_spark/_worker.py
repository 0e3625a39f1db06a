"""Per-task fixed cost of a reused Spark Python worker.

Before every task pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every cached
``zipimport.zipimporter`` re-read its archive's whole central directory,
whether or not the archive changed. A worker that imported from
``pyspark.zip`` (1,328 entries) and the spark-core jar (5,359 entries)
holds a dozen or more such importers, and the re-reads cost 0.1-0.2 s per
task. CPython 3.13 made the invalidation lazy, so the guard is not needed
there.

``install_zip_cache_guard`` wraps ``zipimporter.invalidate_caches`` so an
importer re-reads its archive only when the archive's ``os.stat`` identity
(mtime_ns, size, inode) differs from the one seen at the last read. An
archive that is added, replaced or rewritten is still re-read, so import
semantics are unchanged. The guard acts only inside a Spark Python worker,
never in the driver.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches

# archive path -> (stat identity before the read, directory it produced);
# shared by every importer of the same archive (one per package prefix)
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _on_spark_worker() -> bool:
    # pyspark sets the flag before it unpickles a UDF; the driver never
    # sets it, and a process that never imported pyspark is no worker
    pyspark = sys.modules.get("pyspark")
    files = getattr(pyspark, "SparkFiles", None)
    return bool(getattr(files, "_is_running_on_worker", False))


def _guarded_invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        ident = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        ident = None
    seen = _read_at.get(self.archive)
    if ident is not None and seen is not None and seen[0] == ident:
        self._files = seen[1]
        return
    _ORIGINAL(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if ident is None or files is None:  # missing or unreadable: never skip
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = (ident, files)


def guard_installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _guarded_invalidate_caches


def install_zip_cache_guard() -> bool:
    """Install the guard if this process is a Spark Python worker on
    CPython < 3.13. Returns whether this call installed it."""
    if sys.version_info >= (3, 13) or guard_installed() or not _on_spark_worker():
        return False
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    return True
