"""Skip the per-task re-read of every zip archive on ``sys.path``.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task. Where
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's central
directory eagerly (CPython 3.11 and 3.12.1 both do), that parses the
1,328-entry ``pyspark.zip`` again in every task: about 0.13 s of worker
CPU on a 4-core x86 box. :func:`install` makes the re-read happen only
when the archive's ``(mtime_ns, size, inode)`` changed since this
importer last read it, so a rewritten archive is still re-read.

Call it first in a task body: it is idempotent, and reused workers keep
it. It needs no Spark conf and no environment variable. CPython 3.13
reads the directory lazily (``zipimporter._get_files``), and there
:func:`install` does nothing; delete this module once the oldest
supported CPython does so too.
"""
from __future__ import annotations

import os
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` (once)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls.invalidate_caches,
                                             "eager"):
        return
    eager = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)     # taken before any re-read
        if stamp is None or getattr(self, "_lazyzip_stamp", None) != stamp:
            eager(self)
            self._lazyzip_stamp = stamp

    invalidate_caches.eager = eager
    cls.invalidate_caches = invalidate_caches
