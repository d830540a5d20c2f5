"""Python worker daemon for the session's executors.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
It runs pyspark's own daemon (``pyspark.daemon.manager``) after one
change in the daemon process, which every forked worker inherits: a
``zipimport.zipimporter`` re-reads its archive's directory only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` changed since it was read.

Why: pyspark's worker calls ``importlib.invalidate_caches()`` once per
task (``worker_util.setup_spark_files``). Up to Python 3.12 that makes
every zipimporter the worker holds re-read its whole archive, and a
worker holds about sixteen for ``$SPARK_HOME/python/lib/pyspark.zip``
(one per imported subpackage, 1,328 entries each read). That cost
0.13-0.25 CPU-s per task on Python 3.11. From Python 3.13 the stdlib
zipimporter only drops its cache entry there, so the module leaves
zipimport alone.

Nothing else changes: workers import ``$SPARK_HOME``'s pyspark as
before, directory finders are still invalidated every task, a zip that
is rewritten or newly added (``addPyFile``) is read again, and nothing
is patched in the driver process.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def keep_unchanged_zips() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its stat stamp changed since the last read."""
    if sys.version_info >= (3, 13) or not hasattr(zipimport.zipimporter, "invalidate_caches"):
        return
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def stamped_read(archive):
        # stat before reading: a change during the read shows up as a
        # different stamp next time, and the archive is read again
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = stamps.get(self.archive)
        if files is not None and stamp is not None and stamp == _stamp(self.archive):
            # another importer of the same archive may have re-read it
            self._files = files
            return
        invalidate(self)

    zipimport._read_directory = stamped_read
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_unchanged_zips()
    from pyspark import daemon

    daemon.manager()
