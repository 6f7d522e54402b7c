"""Python worker daemon: pyspark's daemon, minus the per-task zip re-reads.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. Before Python 3.13 that makes each ``zipimporter`` on the worker's
path re-read its archive's whole central directory (``pyspark.zip`` and
the py4j zip), ~0.1 s per task. Here an importer re-reads only when its
archive's ``(st_mtime_ns, st_size)`` changed since its last read; its
first call, and an archive that cannot be stat'ed, take the stock path.
Python 3.13 made the stock call lazy, so there this module is a plain
``pyspark.daemon`` and can be deleted. ``session.get_spark`` names it in
``spark.python.daemon.module``.
"""

import os
import sys
import zipimport


def skip_unchanged_archives() -> None:
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None
        if seen is None or seen != getattr(self, "_seen_stat", None):
            stock(self)
            self._seen_stat = seen

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    skip_unchanged_archives()
    from pyspark.daemon import manager

    manager()
