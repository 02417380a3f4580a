"""Python-worker bootstrap: stop zip imports from re-reading their
archives at the start of every Spark task.

At the start of each task, Spark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``).  Before Python 3.13, every
``zipimport.zipimporter`` answers that by re-parsing the whole central
directory of its archive.  Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) through one
importer per imported subpackage, so every task paid about 0.15-0.27
CPU-s (4-vCPU Xeon, Python 3.11.7, PySpark 4.1.2) before reading a row.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a
version that re-reads an archive only when its ``(st_mtime_ns,
st_size)`` has changed since that importer last read it — the effect of
CPython 3.13's lazy invalidation.  A pyFile that really changes is
still re-read.  It acts only inside a Spark Python worker and only on
Python < 3.13; anywhere else it does nothing.  The package ``__init__``
calls it, and every package UDF unpickles a closure from a package
module, so a reused worker skips the re-reads from its second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

# instance attribute holding the (st_mtime_ns, st_size) an importer
# last read its archive at
_STAMP = "_tsad_archive_stamp"


def _archive_stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Install the hook when running inside a Spark Python worker on
    Python < 3.13; do nothing anywhere else."""
    if sys.version_info >= (3, 13):
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        _patch()


def active() -> bool:
    """Whether this process has the hook installed."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "_tsad_original")


def _patch() -> None:
    """Replace ``zipimporter.invalidate_caches`` (idempotent)."""
    if active():
        return
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            stamp = _archive_stamp(self.archive)
        except OSError:
            return original(self)
        # stat before the read: a change racing the read leaves an old
        # stamp behind, which only costs one more read next time
        if getattr(self, _STAMP, None) != stamp:
            original(self)
            setattr(self, _STAMP, stamp)

    invalidate_caches._tsad_original = original
    # Install runs while unpickling a UDF, after this task's
    # setup_spark_files re-read every importer, so each one's directory
    # matches its archive as it is now.  Importers created later carry
    # no stamp and re-read once on their first invalidation.
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                setattr(importer, _STAMP, _archive_stamp(importer.archive))
            except OSError:
                pass
    zipimport.zipimporter.invalidate_caches = invalidate_caches
