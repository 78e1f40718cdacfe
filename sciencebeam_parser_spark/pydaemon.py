"""Python worker daemon: ``pyspark.daemon`` with a cheap zip-cache refresh.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task. Before CPython 3.13 that makes each ``zipimporter`` re-parse
its whole archive directory: pyspark.zip once per importer, and the
spark-core jar, 26,672 entries and 137-311 ms per task (4-core box,
CPython 3.11.7). The replacement re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the last read, so an archive that
really changed (a re-added ``addPyFile``) is still re-read. Forked workers
inherit the patch. Selected by ``spark.python.daemon.module``.
"""
from __future__ import annotations

import os
import sys
import zipimport

# archive -> (st_mtime_ns, st_size) at its last read; process-wide, like
# zipimport's own _zip_directory_cache that it guards
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive, _read=zipimport._read_directory):
    # every read records its stamp, the one made when an importer is
    # created too; taken first, so a change during the read re-reads
    stamp = _stamp(archive)
    files = _read(archive)
    _stamps[archive] = stamp
    return files


def invalidate_caches(self, _stock=zipimport.zipimporter.invalidate_caches):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is None or stamp is None or _stamps.get(self.archive) != stamp:
        _stock(self)
    else:
        self._files = files


def install() -> None:
    """Patch zipimport in this process (and the workers it forks)."""
    if sys.version_info < (3, 13):
        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
