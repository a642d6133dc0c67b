"""Stat-gated ``zipimporter.invalidate_caches`` for PySpark Python workers.

PySpark calls ``importlib.invalidate_caches()`` before every task, and on
Python 3.11 each zipimporter then re-reads its archive's whole directory:
a pyspark 4.1.2 worker holds 12 importers over ``pyspark.zip``, about
0.1-0.2 s per task (SCALE.md section 9).  The gated method re-reads an
archive only when its ``os.stat`` (inode, size, mtime) differs from the
stamp taken just before its last read; otherwise it reuses
the shared ``zipimport._zip_directory_cache`` entry, so a changed archive
costs one read, not one per importer.  A zip added later by ``addPyFile``
is a new ``sys.path`` entry and gets a fresh importer anyway.
"""

import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive -> (st_ino, st_size, st_mtime_ns) at its last read
rereads = 0  # test hook: counts directory re-reads done by the gated method


def _invalidate_caches(self):
    global rereads
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        _stock(self)  # stamp taken before the read: a later change re-reads
        rereads += 1
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
