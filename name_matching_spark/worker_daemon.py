"""Spark's Python worker daemon, with zip importers that re-read an archive
only when it changed on disk.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``).  Under CPython 3.10 to 3.12 (the
zipimport of 3.10.13, 3.11.7 and 3.12.1 alike) that makes every cached
``zipimporter`` re-read its archive's whole directory, and a
worker's path holds Spark's ``pyspark.zip`` (1,328 entries) and the py4j
zip behind about 16 importers: about 0.1 s per task on a 4-core host,
paid by every Python node of every job.  ``install`` keeps each
archive's cached directory while its ``(st_mtime_ns, st_size, st_ino)``
is the one last read, so an archive rewritten in place is still
re-read; ``addPyFile`` archives arrive as new path entries with fresh
importers, and ``FileFinder`` invalidation is untouched.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
Spark then starts ``python -m name_matching_spark.worker_daemon``, which
installs the guard and runs pyspark's own daemon, so every forked worker
inherits it.  Importing the module patches nothing; a package loaded
from a --py-files archive keeps the stock daemon (see ``get_spark``).

CPython 3.13's ``invalidate_caches`` only drops the cached directory
(gh-103200), so on 3.13+ workers this module, its ``get_spark`` lines and
``tests/test_worker_daemon.py`` can go.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        # stat before reading: a rewrite during the read shows next time
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if (
            stamp is not None
            and cached is not None
            and stamps.get(self.archive) == stamp
        ):
            self._files = cached
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Run as a script this file is ``__main__``; install from the package
    # module so the guard is named after it.
    from name_matching_spark import worker_daemon
    from pyspark.daemon import manager

    worker_daemon.install()
    manager()
