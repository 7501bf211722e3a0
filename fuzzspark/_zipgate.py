"""Re-read a zip archive's directory only when the archive changed.

Every task a PySpark Python worker runs starts in
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory on every call, and a reused worker holds one zip
importer per package directory it imported from: ``pyspark.zip`` ×12
and at least two each for the py4j zip, the spark-core jar (5,359
entries) and fuzzspark's own zip.  That is ~0.19 s per task before any
engine code runs (``tools/worker_tax.py`` measures it).

``install`` replaces the method, inside a PySpark worker on Python
< 3.13 only, with one that stats the archive first and re-reads it only
when its ``(st_ino, st_mtime_ns, st_size)`` differs from the stamp taken
before the last re-read.  A rewritten, replaced or deleted archive is
still picked up by the same call that would pick it up without the gate.
Python 3.13 defers the re-read itself, and a driver process does not
call ``invalidate_caches`` per task, so both keep the stdlib method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp, directory) of the last successful re-read; a
# directory is shared by every importer of its archive, as the stdlib's
# own ``_zip_directory_cache`` shares it between new importers
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    # stat BEFORE reading: an archive rewritten during the read leaves
    # an older stamp behind, so the next call re-reads it again
    stamp = _stamp(archive)
    last = _directories.get(archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _stdlib_invalidate_caches(self)
    # the stdlib drops the archive from its cache when the read fails
    if stamp is not None and \
            zipimport._zip_directory_cache.get(archive) is self._files:
        _directories[archive] = (stamp, self._files)
    else:
        _directories.pop(archive, None)


def install() -> None:
    """Gate zip directory re-reads on the archive's stamp, in a PySpark
    Python worker on Python < 3.13; anywhere else, do nothing."""
    if sys.version_info >= (3, 13):
        return
    # set by setup_spark_files before any task code is unpickled; a
    # process that never loaded it is not a worker
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
