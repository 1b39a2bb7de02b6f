"""Python-worker daemon that re-reads a zip archive only when it changed.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). On Python 3.11 that makes each
``zipimporter`` re-read its archive's central directory: ~15 importers over
the 1,328-entry ``pyspark.zip``, 0.15-0.25 s per task, although the archive
never changes. Here the stock re-read runs only when the archive's
``(st_mtime_ns, st_size)`` moved since the importer last read it, or when it
cannot be stat'ed. Workers fork from this process and inherit the patch; path
entries a task adds (``addPyFile``) still get fresh importers.

``session.get_spark`` selects it via ``spark.python.daemon.module`` for
local masters.
"""

import importlib
import os
import runpy
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self):
    # stat BEFORE the re-read: an archive rewritten mid-read fails the next
    # comparison and is read again
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_graft_stamp", None):
        _stock_invalidate(self)
        self._graft_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.worker  # noqa: F401  (the importers forked workers inherit)

    importlib.invalidate_caches()  # stamp them once, before the first fork
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
