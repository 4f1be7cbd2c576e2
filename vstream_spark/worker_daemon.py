"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

pyspark calls ``importlib.invalidate_caches()`` at the start of every Python
task, and on Python 3.11 each ``zipimporter`` answers by re-reading its whole
archive's central directory. A worker imports pyspark from ``pyspark.zip``
(one importer per imported subpackage), py4j from its source zip and Spark's
core jar, so that is 16 directory reads of up to 5,359 entries, 150-210 ms
of fixed cost in every task on 4 cores. This daemon installs a
``zipimporter`` invalidation that re-reads an archive only when its
``(st_ino, st_ctime_ns, st_mtime_ns, st_size)`` differs from the stamp
taken at its last read, then runs pyspark's own daemon; the workers it
forks inherit the rule. Nothing else in the worker protocol changes: a zip
added with ``addPyFile`` is a new path entry, read on first use, and an
archive rewritten in place or replaced by a rename is re-read, even at the
same size with its mtime kept (a write moves the ctime, which a user cannot
set, and a rename brings a new inode).

Run by Spark as ``python -m vstream_spark.worker_daemon pyspark.worker``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_ctime_ns, st_mtime_ns, st_size) taken just
# before its last read; per process, like zipimport's own directory cache
_read_stamps: dict[str, tuple[int, int, int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since it was last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_ctime_ns, st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _read_stamps.get(self.archive) == stamp):
        self._files = files
        return
    # stamp before the read: a rewrite during it leaves a stale stamp,
    # which only causes one more read
    _reread(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


def install() -> None:
    """Put the rule on every ``zipimporter`` and stamp the archives that
    are already imported from, so forked workers start with them read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # install through the importable module, so the workers' importers
    # run ``vstream_spark.worker_daemon.invalidate_caches``, not __main__'s
    from vstream_spark import worker_daemon

    worker_daemon.install()
    from pyspark import daemon

    daemon.manager()
