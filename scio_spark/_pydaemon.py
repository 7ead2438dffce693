"""Spark's Python worker daemon, with zip importers that re-read an archive
only when it changed on disk.

Before every task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and CPython 3.10/3.11's ``zipimporter``
answers that by re-reading its archive's whole central directory. Workers
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (~1,300 entries)
through one importer per package, so each task re-read the same unchanged
zip 14-16 times: 70-200 ms per task. Here the archive's
``(st_mtime_ns, st_size)`` is recorded when its directory is read, and an
importer re-reads only when that changed, so a zip rewritten in place is
still picked up (once, by the first importer of that archive; the others
take the fresh directory). The daemon installs the importer, then runs
``pyspark.daemon.manager()``; forked workers inherit it, and zips added
later (``addPyFile``) get it through ``sys.path_hooks``. ``build_session``
names this module in ``spark.python.daemon.module`` when local workers can
import it.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> its (st_mtime_ns, st_size) when its directory was read
_read_stats: dict[str, tuple[int, int] | None] = {}


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatZipImporter(zipimport.zipimporter):
    def __init__(self, path):
        cached = set(zipimport._zip_directory_cache)
        super().__init__(path)
        if self.archive not in cached:  # read just now, not taken from the cache
            _read_stats[self.archive] = _stat(self.archive)

    def invalidate_caches(self):
        stat = _stat(self.archive)
        if stat is None or stat != _read_stats.get(self.archive):
            super().invalidate_caches()
            _read_stats[self.archive] = stat
        else:
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


def install() -> None:
    """Put ``StatZipImporter`` in ``sys.path_hooks`` and in place of every
    cached ``zipimporter``. Those archives were read before any stat was
    recorded, so each is re-read once here, before workers fork."""
    sys.path_hooks[:] = [
        StatZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[path] = StatZipImporter(path)
            sys.path_importer_cache[path].invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
