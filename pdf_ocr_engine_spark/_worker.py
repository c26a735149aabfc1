"""Once-per-worker fixed cost of a Spark Python task.

PySpark's ``worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``.  On Python 3.11 that makes every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its archive's
central directory: about 16 importers over ``pyspark.zip`` (1,328 entries) and
the py4j zip, plus one per package directory of a ``--py-files`` zip.  That
is ~150 ms per task before the task's function sees its first row, whatever
the function does.

:func:`install_zip_cache_guard` makes the re-read conditional on the archive
having changed on disk.  The package root installs it when it is imported
inside a Spark Python worker (see ``__init__.py``), which happens while the
first task's function is unpickled — *after* that task's
``setup_spark_files``.  So the first task of each worker process still pays
the re-read once; every later task the reused worker runs skips it.
"""

from __future__ import annotations

import functools
import os
import zipimport


def install_zip_cache_guard() -> None:
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives.

    Each importer remembers its archive's ``(st_mtime_ns, st_size)`` as of its
    last real re-read.  The stock method runs on an importer's first call,
    when the stamp has changed (a rewritten zip is re-read), and when ``stat``
    fails (a deleted zip empties the importer, as before).  A new path entry
    still gets a new finder, so ``addPyFile`` keeps working.  Idempotent: a
    second call leaves the installed wrapper alone.
    """
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_zip_cache_guard", False):
        return

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_zip_stamp", None) != stamp:
            # stamp taken before the read: a write racing it differs next time
            stock(self)
            self._zip_stamp = stamp

    invalidate_caches._zip_cache_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
