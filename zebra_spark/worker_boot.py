"""One-time set-up of a PySpark worker process for engine tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On Python 3.11
that makes each cached ``zipimporter`` of ``pyspark.zip`` (one per package
directory imported from it, ~16 in an engine worker) re-parse the whole
zip central directory in pure Python.  That was ~0.2 of the ~0.22 CPU-s
a no-op Python task costs.

``install_zip_index_cache`` swaps in an ``invalidate_caches`` that
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
changed since its last read, and otherwise rebinds the importer to the
shared ``zipimport._zip_directory_cache`` entry.  A zip rewritten at the
same path is still re-read.  The package ``__init__`` installs it in
PySpark worker processes only; the driver keeps the stock method.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its last directory read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stamps[self.archive] = stamp
    _stock_invalidate(self)


def install_zip_index_cache() -> None:
    """Install the stamp-checked ``invalidate_caches``; a second call is a
    no-op.  One invalidation right away reads and stamps every archive
    that is on an importer path, so later tasks re-read none of them."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


def in_pyspark_worker() -> bool:
    """True inside a PySpark Python worker: it sets the task context before
    it unpickles the task's function, i.e. before any engine import."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None
