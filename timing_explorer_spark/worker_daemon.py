"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On Python < 3.12 each ``zipimporter`` then re-reads its whole
archive's central directory: ~16 importers over ``pyspark.zip`` and the
spark-core jar cost ~0.2 s of CPU per task. This daemon is pyspark's, with
``zipimporter.invalidate_caches`` re-reading an archive only when its
``(st_mtime_ns, st_size)`` stamp changed since the last read (3.12's lazy
semantics), so zips added with ``addPyFile`` are still picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

import pyspark.daemon

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp at its last read


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # stat before reading: a write racing the read leaves a stale stamp,
    # so the next call reads again
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def install(version: tuple = sys.version_info) -> bool:
    """Patch ``zipimporter.invalidate_caches`` on Python < 3.12, where it is
    eager; return whether it was patched."""
    if version >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    install()
    pyspark.daemon.manager()
