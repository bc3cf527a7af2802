"""Cheap per-task import-cache invalidation in PySpark Python workers.

Each task starts with ``importlib.invalidate_caches()``; on CPython < 3.12
every ``zipimporter`` then re-reads its archive's directory: ~230 ms per task
for the pyspark, py4j and spark-core archives Spark puts on the worker path."""
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_read_stat: dict = {}  # archive -> (st_mtime_ns, st_size) when last read


def _stat(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    stat, files = _stat(self.archive), zipimport._zip_directory_cache.get(self.archive)
    if stat is not None and files is not None and _read_stat.get(self.archive) == stat:
        self._files = files
        return
    _stdlib_invalidate(self)  # stat taken first: a write racing the read re-reads next time
    if stat is not None and self.archive in zipimport._zip_directory_cache:
        _read_stat[self.archive] = stat
    else:
        _read_stat.pop(self.archive, None)


def install():
    """Re-read an archive only when its stat changed or fails. Archives cached
    now count as read at their current stat: task set-up has just re-read them."""
    if sys.version_info < (3, 12) and zipimport.zipimporter.invalidate_caches is not _invalidate_caches:
        _read_stat.update((a, s) for a in list(zipimport._zip_directory_cache) if (s := _stat(a)))
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
