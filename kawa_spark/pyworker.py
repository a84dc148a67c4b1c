"""Python worker daemon: pyspark's own, with a stat-guarded zip cache.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12 that
makes each ``zipimporter`` on the worker's path re-read its archive's
whole directory, spark-core's jar and pyspark.zip among them: about
200 ms of CPU per task (docs/SCALE.md, "Per-task Python worker set-up").
The guard re-reads an archive only when its stat has changed, and the
daemon reads them all once before it forks, so every worker starts
with a seeded cache. Set as ``spark.python.daemon.module`` by
``session.get_spark``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory
    while the archive's (mtime, size, inode) is the one last read; a
    rewritten archive is re-read and a missing one dropped, as stock."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock(self)
    if self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Install the guard where the stock method re-reads eagerly."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    if install():
        importlib.invalidate_caches()  # seed the cache the workers fork with
    from pyspark import daemon

    daemon.manager()
