"""Python worker daemon for local sessions: pyspark's daemon, minus the
per-task re-read of every zip archive on the worker's import path.

Before each task pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.10-3.12
``zipimporter.invalidate_caches`` re-reads its whole archive directory
at once. A worker holds one importer per package it imported from an
archive: 12 over ``pyspark.zip``, 2 over the py4j zip and 2 over the
spark-core jar Spark puts on ``PYTHONPATH``, so every task re-parsed
26,672 directory entries (~0.2 s) before user code ran.

``install_zip_guard`` makes that call re-read an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp of the last
read, so a rewritten archive is still read again. Running this module
primes the stamps before the daemon forks, so every worker inherits
them, then runs ``pyspark.daemon.manager()``.
``corral_spark.session.build_session`` selects it
(``spark.python.daemon.module``) for local masters only.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive path -> (st_ino, st_size, st_mtime_ns) when it was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_zip_guard() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a version that
    reuses the cached directory of an unchanged archive. Only CPython
    3.10-3.12 re-read eagerly; elsewhere this does nothing."""
    if not (3, 10) <= sys.version_info < (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # Stamp before reading: an archive rewritten during the read
        # then fails the next comparison and is read again.
        stamp = _stamp(self.archive)
        if stamp is not None and _stamps.get(self.archive) == stamp:
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        original(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install_zip_guard()
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # one read per archive, stamped pre-fork
    manager()
