"""Stop Spark's Python worker from re-reading zip archives every task.

Before each task Spark's worker calls ``importlib.invalidate_caches()``
(``setup_spark_files``, ``pyspark/worker_util.py``). On CPython < 3.12
that makes every ``zipimporter`` in ``sys.path_importer_cache`` — one
per imported package directory of ``pyspark.zip`` — re-read its
archive's whole central directory: 0.1-0.2 s per task for pyspark's
1,300-entry archive, before any engine code runs. (3.12 made the
re-read lazy.)

:func:`install` replaces ``zipimporter.invalidate_caches`` with one
that re-reads an archive only when its (mtime_ns, size, inode) stamp
differs from the stamp taken before its last read, or cannot be
taken; every importer of an unchanged archive gets that read's
directory. A rewritten or replaced archive is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_read: dict[str, tuple] = {}  # archive -> (stamp, directory) of its last read


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    last = _read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _original(self)
    if stamp is not None:
        _read[self.archive] = (stamp, self._files)


def install() -> None:
    """Install the stamp check inside a Spark task on CPython < 3.12;
    leave the driver and newer Pythons untouched."""
    tc = sys.modules.get("pyspark.taskcontext")
    if sys.version_info < (3, 12) and tc is not None \
            and tc.TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
