"""Keep a Spark Python worker from re-reading its zip archives on every task.

A worker runs ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``), after it adds the
task's files to ``sys.path``. CPython 3.11's
``zipimporter.invalidate_caches`` re-reads the whole directory of its
archive, and a worker's path holds three archives: ``pyspark.zip``
(which the JVM puts ahead of site-packages), the py4j zip and the Spark
core jar. So each task re-parsed ~16 directories before it ran.

Imported inside a worker, this module makes an importer re-read its
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the stamp taken at that importer's last re-read, or when the archive
cannot be stat-ed. A rewritten archive is re-read as before; an
unchanged one keeps its directory. The driver is never patched.
"""

from __future__ import annotations

import os
import zipimport

from pyspark import TaskContext

_reread = zipimport.zipimporter.invalidate_caches


def _stat_checked(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


if TaskContext.get() is not None:
    zipimport.zipimporter.invalidate_caches = _stat_checked
