"""go_boilerpipe_spark: PySpark-native boilerplate-removal analytics engine.

A from-scratch reimplementation of the capabilities of jlubawy/go-boilerpipe
(reference at /root/reference, read-only) designed for Spark execution at
Common-Crawl scale. See SURVEY.md for the blueprint.
"""

import gc
import os
import sys

__version__ = "0.1.0"


def install_zipimport_stat_check() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive's ``(st_mtime_ns, st_size)`` changed since that importer
    last read it. Returns True once the check is installed.

    PySpark's ``setup_spark_files`` (``pyspark/worker_util.py``) calls
    ``importlib.invalidate_caches()`` at the start of every task. The
    stock ``zipimporter.invalidate_caches`` of CPython 3.11 and 3.12 then
    re-parses its archive's whole central directory at once, and a Python
    worker holds about 16 importers on ``pyspark.zip`` (1,328 entries):
    those re-reads were most of the CPU of a small Python task. Delete this
    function once every supported CPython's ``invalidate_caches`` only
    drops the cached directory and reads it again on next use (upstream
    CPython gh-103200, after 3.12); on such a CPython the check costs one
    ``os.stat`` per importer and skips nothing of note.

    The patch is process-wide: the driver, tests and any other consumer
    that imports this package get it too. An archive rewritten in place
    with the same size and an mtime within the filesystem's timestamp
    granularity is no longer seen by ``invalidate_caches``.

    Every worker that unpickles a function of this package imports this
    module, but only after that task's ``setup_spark_files`` has run the
    stock re-read. The worker's second task is the first the check sees:
    with no stamp recorded it re-reads and records one. Re-reads are
    skipped from a worker's third task on."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        # stamp taken before the read: a rewrite racing the read leaves an
        # older stamp, so the next call reads again
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


class _WorkerHeapFreeze:
    """``sys.meta_path`` entry that finds no module; its only job is
    :meth:`invalidate_caches`. See :func:`install_worker_heap_freeze`."""

    freezes_worker_heap = True

    def __init__(self):
        self.modules = 0  # len(sys.modules) at the last freeze

    @staticmethod
    def find_spec(name, path=None, target=None):
        return None

    def invalidate_caches(self):
        tc = sys.modules.get("pyspark.taskcontext")
        if tc is None or tc.TaskContext.get() is None:
            return
        if len(sys.modules) > self.modules:
            gc.freeze()
            self.modules = len(sys.modules)


def install_worker_heap_freeze() -> bool:
    """Move a Python worker's long-lived objects into the collector's
    permanent generation (``gc.freeze()``) at the start of a task, so that
    the collection after each task walks only what that task allocated.
    Returns True once the hook is installed.

    PySpark's worker-reuse loop (``pyspark/daemon.py``) runs a full
    ``gc.collect()`` after every task. Without a freeze that collection
    walks the ~75k objects that pyspark, pyarrow, pandas and this package
    leave behind at import: 36-45 ms in a quiet process and a median of
    41 ms in a crawl-job worker, per task; on a frozen heap, 0.1 ms.

    ``setup_spark_files`` (``pyspark/worker_util.py``) calls
    ``importlib.invalidate_caches()`` at the start of every task, after the
    daemon's collection and after ``TaskContext`` is set, and that call
    reaches every ``sys.meta_path`` entry. The hook freezes there when a
    ``TaskContext`` is set and ``sys.modules`` has grown since its last
    freeze. A worker imports this package during its first task, so it
    freezes at its second, and again only after a task imported a new
    module. What a task leaves behind has been collected by then, so its
    garbage never becomes permanent. The driver, tests and any process
    without a ``TaskContext`` are left as they are.

    Rejected designs: a ``spark.python.daemon.module`` that freezes before
    the daemon forks would be a deployment setting every session must
    carry; ``gc.disable()`` does not stop the daemon's explicit
    ``gc.collect()``."""
    if any(getattr(f, "freezes_worker_heap", False) for f in sys.meta_path):
        return True
    sys.meta_path.append(_WorkerHeapFreeze())
    return True


install_zipimport_stat_check()
install_worker_heap_freeze()
