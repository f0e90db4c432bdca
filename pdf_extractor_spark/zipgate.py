"""Stat-gated zip directory invalidation for Python workers.

Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before
Python 3.13 that makes every cached ``zipimport.zipimporter`` re-read
its archive's whole central directory at once. A reused worker holds
about 19 of them: 13 on ``pyspark.zip`` (1,328 entries), one per
imported subpackage, plus the Spark jar, py4j and this package's zip.
That call alone cost 0.12–0.22 s of worker CPU per task on 4 cores,
against about 1 ms of extraction per small file.

:func:`gate_zip_invalidation` keeps the invalidation but skips the
re-read while an archive is unchanged on disk. The package
``__init__`` calls it once per Python worker process, when the package
is first imported there; the driver is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def gate_zip_invalidation() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` in this
    process with a version that re-reads an archive's directory only
    when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from
    its last read, or when its directory is missing from
    ``zipimport._zip_directory_cache``. Otherwise the importer is
    pointed at the shared cached directory. An archive whose directory
    is already cached when this runs is taken as read at its current
    stat. ``FileFinder`` invalidation is untouched, so files added with
    ``addFile``/``addPyFile`` mid-session are still found, and a
    rewritten or removed archive is still re-read (or dropped) as the
    stdlib does.

    Idempotent. On Python 3.13 and later it installs nothing: there
    ``invalidate_caches`` only drops the cache entry and the importer
    re-reads lazily, on its next use."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or stdlib.__module__ != "zipimport":
        return
    cache = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int, int]] = {}
    for archive in list(cache):
        try:
            read_at[archive] = _stat_key(archive)
        except OSError:
            pass

    def invalidate_caches(self) -> None:
        try:
            key = _stat_key(self.archive)
        except OSError:
            key = None
        files = cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # The stat is taken before the read, so a rewrite racing the
        # read leaves a stale key and the next call reads again.
        stdlib(self)
        if key is None:
            read_at.pop(self.archive, None)
        else:
            read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
