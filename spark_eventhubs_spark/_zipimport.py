"""Make ``importlib.invalidate_caches()`` cheap for unchanged zip archives.

On CPython < 3.12, ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive on every call (CPython gh-103200; 3.12
made it lazy). Spark's Python worker calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark.worker_util.setup_spark_files``),
and imports pyspark from ``pyspark.zip``, so each reused worker call
re-read about 28k directory entries across the ~17 importers of
pyspark.zip, py4j and the spark-core jar.

The replacement re-reads an archive only when its ``os.stat`` stamp
(inode, mtime_ns, size) differs from the stamp taken at its last read;
one read is shared by every sub-package importer of that archive. A
failed stat falls back to the original method. Importing the package
installs it, so every worker that unpickles a connector object has it.
"""

import os
import sys
import zipimport

# archive path -> (stat stamp taken before the read, directory it read).
# A stamp counts only while zipimport still caches that same directory:
# a failed read drops the cache entry, so the next call reads again.
_STAMPS = {}


def _stamped_invalidate_caches(self):
    archive = self.archive
    try:
        st = os.stat(archive)
    except (OSError, ValueError):
        return _original(self)
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    seen = _STAMPS.get(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if seen is not None and seen[0] == stamp and seen[1] is files:
        self._files = files
        return
    _original(self)
    _STAMPS[archive] = (stamp, self._files)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` once (no-op on 3.12+)."""
    global _original
    if sys.version_info >= (3, 12):
        return
    current = zipimport.zipimporter.invalidate_caches
    if getattr(current, "_stamped", False):
        return
    _original = current
    _stamped_invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches


install()
