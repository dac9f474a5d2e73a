"""PySpark worker daemon whose zip importers re-read an archive only when it
changed (``spark.python.daemon.module``; set by ``session.get_spark``).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of every
task, and each ``zipimporter`` on the path (pyspark.zip, py4j, the spark-core
jar) then re-reads its whole archive directory: 129 ms per task in a lone
worker, 190-310 ms with four at once. Here that re-read happens only when the
archive's ``(st_mtime_ns, st_size)`` moved since the last read; directory
finders are invalidated as before. Workers fork from this daemon and inherit
the hook.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp taken just before its directory was last read.
# Process-wide like zipimport's own directory cache: the import system builds
# importers from a path alone, so there is no object to hold it.
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatZipImporter(zipimport.zipimporter):
    def __init__(self, path):
        super().__init__(path)
        # the shared directory cache may predate this class: re-read it once
        self.invalidate_caches()

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if self.archive in _stamps and _stamps[self.archive] == stamp:
            self._files = zipimport._zip_directory_cache.get(self.archive, {})
        else:
            _stamps[self.archive] = stamp  # stamped first: a later write re-reads
            super().invalidate_caches()


def install() -> None:
    """Put StatZipImporter in place of zipimporter for every later lookup."""
    sys.path_hooks[:] = [
        StatZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for key, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    # install the importable copy's class, so code in a worker can name it
    from nabu_spark.worker_daemon import install as _install

    _install()
    from pyspark import daemon  # its imports already go through the hook

    daemon.manager()
