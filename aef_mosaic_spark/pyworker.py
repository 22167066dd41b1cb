"""Spark Python daemon (``spark.python.daemon.module``, set in
session._DEFAULT_CONF) that stops each task re-reading zip directories.

Every Python task, even on a reused worker, runs pyspark's
``setup_spark_files`` -> ``importlib.invalidate_caches()``. On CPython
< 3.13 that makes every ``zipimporter`` (one per package imported from
``pyspark.zip``: ~16 after a pandas UDF) re-read its archive's whole
central directory (1,328 entries), 0.2-0.3 s per task on local[4].
CPython 3.13 made the re-read lazy. Here the re-read happens only when
the archive's ``os.stat`` identity changed since the last read, so a
rewritten or replaced zip (what the call is for) is still picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches, re-reading only a changed archive."""
    stamp = _stamp(self.archive)  # taken before the read it vouches for
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch zipimporter (CPython < 3.13), then read and stamp every
    archive already imported from, so a forked worker's first task
    reads none."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for archive in list(zipimport._zip_directory_cache):
        zipimport.zipimporter(archive).invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
