"""Keep PySpark's Python workers from re-reading unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task. Before CPython 3.13 that makes every ``zipimporter`` re-read
its archive's whole central directory: ``pyspark.zip``, the py4j zip and
the Spark core jar that Spark puts on the worker's ``PYTHONPATH``, about
27k entries and most of a small task's time. Here an importer re-reads its
archive only when the file's (mtime, size, inode) changed since the last
read, or when the archive's directory is no longer cached. Workers install
this when they unpickle anything of the engine, and read each open archive
once then; 3.13 drops the cache entry instead of re-reading, so it is left
alone there.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple] = {}  # archive -> its stat stamp when last read


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)  # taken before the read, so a change during it re-reads next time
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or stamp is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    if sys.version_info < (3, 13) and zipimport.zipimporter.invalidate_caches is not _invalidate_caches:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        # read and stamp each archive already open once now, not in the next task
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
