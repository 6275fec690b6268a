"""Python-worker daemon entry: ``pyspark.daemon`` with stat-guarded zip importers.

pyspark's worker calls ``importlib.invalidate_caches()`` once per task
(``setup_spark_files``), and on Python 3.11 every ``zipimporter`` then
re-reads its whole archive directory: pyspark.zip and the spark-core jar,
about 0.25 s per task. Before the daemon forks its workers, this entry
swaps ``zipimporter`` for a subclass that re-reads only when the archive's
(inode, size, mtime_ns) changed, so a rewritten archive or a zip added with
``addPyFile`` is still picked up. ``session.get_spark`` names this module
in ``spark.python.daemon.module``; ``pyspark.daemon`` still takes the
worker module from ``argv[1]``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


class GuardedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive
    directory only when the archive's stat changed."""

    def __init__(self, path):
        super().__init__(path)
        self._stat = _stat(self.archive)

    def invalidate_caches(self):
        stat = _stat(self.archive)
        if stat != self._stat:
            self._stat = stat
            super().invalidate_caches()


def install() -> None:
    """Route new and already-cached zip importers through the subclass."""
    sys.path_hooks[:] = [
        GuardedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[path] = GuardedZipImporter(path)


if __name__ == "__main__":
    install()
    import pyspark.daemon

    pyspark.daemon.manager()
