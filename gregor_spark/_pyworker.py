"""Keep a reused Spark Python worker from re-reading unchanged zip archives.

Each task starts with ``importlib.invalidate_caches()``; before Python 3.13
every cached ``zipimporter`` then re-reads its archive's central directory
(16 reads of pyspark.zip, py4j and the spark-core jar: ~0.24 s CPU a task).
The guard re-reads only when ``(st_mtime_ns, st_size)`` differs from what
that importer last read; directory finders and new or changed archives
behave as before.
"""

import sys
import zipimport
from os import stat

_reread = None  # the unguarded zipimporter.invalidate_caches, once installed


def _stat(path):
    try:
        st = stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` inside a Spark Python worker
    on Python < 3.13 (3.13 drops the cached directory lazily); a no-op in
    the driver and when already installed."""
    global _reread
    from pyspark.core.files import SparkFiles

    if _reread or sys.version_info >= (3, 13) or not SparkFiles._is_running_on_worker:
        return
    cls = zipimport.zipimporter
    reread = _reread = cls.invalidate_caches

    def invalidate_caches(self):
        key = _stat(self.archive)
        if key is None or key != getattr(self, "_read_stat", None):
            reread(self)
            self._read_stat = key

    # Installed while a task unpickles its function, just after that task
    # re-read every cached archive; Spark fetches py-files between tasks.
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._read_stat = _stat(imp.archive)
    cls.invalidate_caches = invalidate_caches
