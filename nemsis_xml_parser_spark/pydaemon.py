"""PySpark worker daemon with the Arrow stack preloaded and zip directories
read once.

Python workers are forked from the daemon process on demand, and the
worker pool is culled after a hard-coded 60 s idle timeout
(``PythonWorkerFactory.IDLE_WORKER_TIMEOUT_NS``).  Every freshly forked
worker that runs a pandas/Arrow kernel then imports numpy + pandas +
pyarrow from scratch — ~1-3 s of pure interpreter work per worker,
multiplied by every concurrent worker on the machine, re-paid after
every idle cull.  On a 32-core local run that is a multi-second storm
at the start of every Arrow-kernel query that follows a >60 s gap; on a
real cluster it is the same tax on every executor whenever the workload
is bursty.

Preloading the heavy modules HERE means workers inherit them through
``fork`` (copy-on-write, zero per-worker cost).  This is the documented
``spark.python.daemon.module`` extension point; everything else
delegates to the stock ``pyspark.daemon`` manager loop.

The second tax is paid per task, not per worker.  PySpark's worker ends
``setup_spark_files`` with ``importlib.invalidate_caches()`` for every
task, and on CPython 3.11 and 3.12 ``zipimporter.invalidate_caches``
re-reads its archive's whole central directory.  Spark puts
``pyspark.zip``, the py4j zip and the spark-core jar on the workers'
``PYTHONPATH``, and every imported pyspark subpackage adds one more
importer over the same archive: 16 directory reads over 3 archives, about
0.2-0.3 s, before each task runs a line of its own.  Here each importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs from
what that importer last read, or cannot be stat'ed.  The stamp is kept
per importer, not per archive path: importers of one archive
(``pyspark.zip``, ``pyspark.zip/pyspark/sql``, ...) each hold their own
file list, so after a change each must read it again.  The daemon stamps
its importers once, and the forked workers inherit them stamped.

``session.get_spark`` wires this up (and puts the repo root on
PYTHONPATH for the daemon process); non-fork platforms (Windows) never
use the daemon, so the conf is harmless there.
"""

import importlib
import os
import zipimport

# Workers fork from this process: modules imported here are inherited
# copy-on-write by every worker, paying the import exactly once per
# executor instead of once per worker per idle-cull.
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

from pyspark.daemon import manager

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that reads the archive again only
    when it changed on disk since this importer last read it."""
    # stat before reading, so a change made during the read shows next time
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _read_archive(self)
        self._archive_stamp = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
importlib.invalidate_caches()

if __name__ == "__main__":
    manager()
