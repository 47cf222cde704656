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
same path is still re-read.

PySpark's daemon also runs a full ``gc.collect()`` after every task a
reused worker serves (``pyspark/daemon.py``).  An engine worker holds
~42k GC-tracked objects from ~414 modules (~73k from ~750 once anything
in it makes pyarrow import pandas), so each of those collections
re-walked the import-time heap for ~40-70 ms on a 4-core host.
``install_gc_freeze`` hooks ``gc.callbacks`` so that a generation-2
collection that ends while no task context is set, i.e. the daemon's
post-task collect, calls ``gc.freeze()``: later collections walk only
the current task's objects.  A collection inside a task never freezes,
so a task's cyclic garbage is still collected.  A frozen object that
later becomes cyclic garbage is never reclaimed; reference counting
still frees frozen objects that are in no cycle.

The package ``__init__`` installs both in PySpark worker processes only;
the driver keeps the stock method and no hook.
"""

from __future__ import annotations

import gc
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


def _freeze_after_task_collect(phase: str, info: dict) -> None:
    """``gc.callbacks`` hook: freeze the survivors of a full collection
    made between tasks; a collection inside a task freezes nothing."""
    # the worker clears the task context at the end of each task, so the
    # daemon's post-task collect runs with none set
    if phase == "stop" and info["generation"] == 2 and not in_pyspark_worker():
        gc.freeze()


def install_gc_freeze() -> None:
    """Add the post-task freeze hook to ``gc.callbacks``; a second call
    is a no-op."""
    if _freeze_after_task_collect not in gc.callbacks:
        gc.callbacks.append(_freeze_after_task_collect)


def in_pyspark_worker() -> bool:
    """True while a PySpark Python worker runs a task: it sets the task
    context before it unpickles the task's function, i.e. before any
    engine import, and clears it when the task ends."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None
