"""Per-process setup for grenier_spark code running inside a Spark Python worker.

Spark calls ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that makes
every ``zipimport.zipimporter`` on ``sys.path`` eagerly re-read its archive's
central directory: a worker holds one importer per imported subpackage of
``pyspark.zip``, two for the spark-core jar Spark puts on the worker path and
two for py4j, so each task re-parses ~27 k zip entries (~130 ms of CPU on a
4-vCPU x86 host) from archives that do not change while the worker lives.

CPython 3.13 made ``zipimporter.invalidate_caches`` lazy: it only drops the
cached directory, and the next lookup reads it again
(``Lib/zipimport.py``, ``zipimporter._get_files``). :func:`install` backports
the effect to 3.11/3.12 workers: an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` changed since it was last read, and all
importers of one archive share the one directory read. A replaced or newly
written archive is still picked up by the next invalidation; an archive that
cannot be stat-ed takes the stdlib path. The driver and CPython >= 3.13 are
left untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size, st_ino) when its directory was last read
_read_at: "dict[str, tuple[int, int, int]]" = {}


def _stat_keyed_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        _STDLIB_INVALIDATE(self)
        return
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    # the key is taken before the read: a write racing the read changes it,
    # so the next invalidation reads the archive again
    _STDLIB_INVALIDATE(self)
    if self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key
    else:
        _read_at.pop(self.archive, None)


def _patch() -> None:
    zipimport.zipimporter.invalidate_caches = _stat_keyed_invalidate


def _in_spark_worker() -> bool:
    # sys.modules only: importing grenier_spark (or grenier_spark.core) must
    # never import pyspark itself
    if "pyspark.worker" not in sys.modules:
        return False
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


def install() -> None:
    """Make zip-import invalidation stat-keyed in a Spark worker on CPython < 3.13."""
    if sys.version_info < (3, 13) and _in_spark_worker():
        _patch()
