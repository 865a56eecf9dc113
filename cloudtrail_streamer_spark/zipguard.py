"""Re-read a zip archive on ``sys.path`` only when it has changed.

``importlib.invalidate_caches()`` ends in
``zipimport.zipimporter.invalidate_caches``, which on CPython 3.11 re-reads
the archive's whole central directory unconditionally. PySpark's Python
worker calls it before every task, and the worker's path holds
``pyspark.zip`` and the spark-core jar under one importer per imported
sub-package, so each task paid ~230 ms (4-CPU host) re-reading archives
that never change. Installed at package import, so every Python worker
that unpickles engine code, and every driver, gets it.

Each importer keeps the ``os.stat`` identity its directory was read at
and calls the stock method only when that identity changed or ``stat``
fails; a rewritten archive is still re-read. The stamp is per instance:
sibling sub-package importers each hold their own ``_files``.
"""

from __future__ import annotations

import os
import zipimport

_read_at: dict[str, tuple | None] = {}  # archive -> identity at its last read


def _identity(archive: str) -> tuple | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    cls = zipimport.zipimporter
    if "_read_stamp" in vars(cls):  # already installed
        return
    read, init, invalidate = zipimport._read_directory, cls.__init__, cls.invalidate_caches

    def _read_directory(archive):
        stamp = _identity(archive)  # taken first: a change mid-read re-reads later
        files = read(archive)
        _read_at[archive] = stamp
        return files

    def __init__(self, path):
        init(self, path)
        self._read_stamp = _read_at.get(self.archive)

    def invalidate_caches(self):
        stamp = _identity(self.archive)
        if stamp is None or stamp != self._read_stamp:
            invalidate(self)
            self._read_stamp = stamp

    # importers built before install (in a worker: those of its first
    # task) re-read once more on their first guarded call
    cls._read_stamp = None
    zipimport._read_directory = _read_directory
    cls.__init__, cls.invalidate_caches = __init__, invalidate_caches
