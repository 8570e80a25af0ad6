"""Spark's Python daemon, minus the per-task re-read of unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py:setup_spark_files``). On CPython 3.11 that makes
every cached ``zipimporter`` re-read its archive's whole central directory.
A worker's ``sys.path`` holds ``pyspark.zip`` (~1.3k entries) and the
spark-core jar (~5.4k entries), and there is one importer per package
imported from them, so a reused worker spent ~0.1-0.4 s of CPU per task
re-reading archives that cannot have changed.

Here a ``zipimporter`` re-reads only when its archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the last read of it; every
other finder is invalidated as before, so files ``addPyFile`` ships still
show up. The patch is made once in the daemon, which then reads each archive
once and forks the workers, so they inherit both.

``cdcrypt.session.get_spark`` sets ``spark.python.daemon.module`` to this
module only where workers can import it (``daemon_importable``): Spark runs
the daemon before any ``--py-files`` arrive, and a daemon that fails to
import fails every Python task.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int] | None] = {}  # archive -> stat at last read
rereads = 0  # archive re-reads let through in this process (forks inherit it)


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    global rereads
    key = _stat_key(self.archive)  # before the read: a change mid-read re-reads next time
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and key == _read_at.get(self.archive) and files is not None:
        self._files = files  # what re-reading the unchanged archive would give
        return
    _reread(self)
    _read_at[self.archive] = key
    rereads += 1


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    from cdcrypt import _pydaemon  # the importable copy, whose state workers report

    zipimport.zipimporter.invalidate_caches = _pydaemon.invalidate
    importlib.invalidate_caches()
    pyspark.daemon.manager()
