"""Python worker daemon: preload the heavy imports and cut the fixed cost
every Python task pays before it reads its first row.

pyspark forks every Python worker from one daemon process per executor
(``spark.python.daemon.module``), and what the daemon holds at fork time is
inherited by each worker through copy-on-write for free. This module puts
three things there:

* **The heavy imports.** numpy+pandas+pyarrow+kernels cost ~1.5 s per
  cold worker when each worker imports them itself (guide §4.5,
  "initialise heavyweight state once", applied to the import cost).
* **A stat-checked ``zipimporter.invalidate_caches`` (Python < 3.12).**
  Every task runs ``importlib.invalidate_caches()`` in
  ``pyspark.worker_util.setup_spark_files``. On CPython 3.11 that re-parses
  the central directory of every zip on the worker's path: 16 importers
  over pyspark.zip (1,328 entries), the spark-core jar (5,359 entries) and
  py4j, 130–240 ms per task measured on a 4-core VM, before the first row.
  The replacement re-reads an archive only when its ``(st_mtime_ns,
  st_size)`` differs from what that importer last read, so a zip rewritten
  on disk (``addPyFile``, a new ``--py-files``) is still re-read; if
  ``os.stat`` fails it falls back to the stock re-read. Python 3.12 made
  the re-read lazy itself (gh-103200), so nothing is patched there.
* **A frozen heap.** A reused worker runs ``gc.collect()`` after every
  task, which walked the ~88k objects inherited from these imports
  (37–80 ms per task). ``gc.freeze()`` moves them to the permanent
  generation before the first fork, so the worker only walks its own.

Only imports, the patch and the freeze happen here — no threads, no BLAS
calls, no Spark state — so the subsequent fork() is safe.
"""

import gc
import importlib
import os
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

from pyspark.daemon import manager

from sylph_spark import codecs, kernels, udfs  # noqa: F401

if sys.version_info < (3, 12):
    _reread = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        """Re-read the archive only if its (mtime, size) stamp differs from
        the one this importer last read; the stat comes before the read, so
        a write racing the read only causes one more re-read later."""
        try:
            st = os.stat(self.archive)
        except OSError:
            return _reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stamp", None) != stamp:
            _reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    importlib.invalidate_caches()  # stamp the daemon's importers once
    gc.freeze()
    manager()
