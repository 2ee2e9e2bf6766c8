"""Skip re-parsing unchanged zip archives on ``importlib.invalidate_caches()``.

A PySpark worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that makes
each ``zipimport.zipimporter`` eagerly re-read its archive's central
directory, and a worker holds one importer per package path inside
``pyspark.zip`` (~16 of them over a ~1,300-entry directory): about 220-240 ms
of worker CPU per task (measured on 4 x86 cores, Python 3.11.7, Spark 4.1.2),
even for a task that does nothing. Workers are reused and the archives do not change between
tasks, so that work is repeated for nothing.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` stamp differs
from the one taken before the last read, or when ``stat`` fails; otherwise
it re-attaches the cached directory, exactly what a re-read would return.
CPython 3.13 made this invalidation lazy (gh-103200), so ``install()`` is a
no-op there.

``alertsage_spark/__init__.py`` calls ``install()`` first thing, so every
worker that unpickles an engine function installs it.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before our last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return (st.st_mtime_ns, st.st_size)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; idempotent, no-op on 3.13+."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_skips_unchanged", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)  # taken BEFORE the read: a concurrent
        # rewrite then leaves a stale stamp, which forces the next re-read
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and _stamps.get(archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _stamps[archive] = stamp
        else:
            _stamps.pop(archive, None)

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
