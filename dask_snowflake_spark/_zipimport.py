"""Keep reused Python workers from re-reading unchanged zip archives.

A Spark Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` eagerly re-parse its archive's central
directory. A worker holds one importer per imported package directory of
``pyspark.zip`` (26k entries), so every task paid that parse over and over
before any user code ran: about a quarter of a second per task on a
4-core host.

:func:`install` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_mtime_ns, st_size, st_ino)`` changed since
the last read; otherwise the importer takes the directory already in
``zipimport._zip_directory_cache``. A rewritten archive (a refreshed
``addPyFile`` zip) is re-read exactly as before. CPython 3.13 reads the
directory lazily, so there :func:`install` leaves the stdlib alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature at its last directory read
_SIGNATURES: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Install the stat-gated ``invalidate_caches`` (idempotent).

    Returns whether the shim is in place."""
    if sys.version_info >= (3, 13):
        return False
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return True

    def invalidate_caches(self):
        archive = self.archive
        # stat BEFORE reading: a change during the read shows up next time
        sig = _signature(archive)
        cached = zipimport._zip_directory_cache.get(archive)
        if sig is not None and cached is not None and _SIGNATURES.get(archive) == sig:
            self._files = cached
            return
        original(self)
        if sig is not None and archive in zipimport._zip_directory_cache:
            _SIGNATURES[archive] = sig
        else:
            _SIGNATURES.pop(archive, None)

    invalidate_caches._stat_gated = True
    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def install_in_worker() -> bool:
    """:func:`install` inside a Spark Python worker only (the JVM gives
    every worker it launches its factory secret); a driver process keeps
    the stdlib behaviour."""
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return False
    return install()
