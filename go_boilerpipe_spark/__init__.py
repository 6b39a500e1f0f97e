"""go_boilerpipe_spark: PySpark-native boilerplate-removal analytics engine.

A from-scratch reimplementation of the capabilities of jlubawy/go-boilerpipe
(reference at /root/reference, read-only) designed for Spark execution at
Common-Crawl scale. See SURVEY.md for the blueprint.
"""

import os

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


install_zipimport_stat_check()
