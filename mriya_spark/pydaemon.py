"""Python worker daemon: ``pyspark.daemon`` with stat-gated zip imports.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``). Under CPython 3.11 that makes
each cached ``zipimporter`` eagerly re-read its whole archive directory
(gh-103200; lazy from 3.12): ``pyspark.zip``, the py4j zip and the
spark-core jar, about 0.25 CPU s per task. Here an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size)`` differs
from the last read, or ``stat`` fails. Directory finders are untouched,
so ``.py`` files newly shipped into the SparkFiles dir are still found.

Run by Spark as ``python -m mriya_spark.pydaemon pyspark.worker``
(``spark.python.daemon.module``, set by ``session.get_spark``).
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (stamp, directory) of its last read; process-wide,
#: like zipimport's own directory cache that every importer of one
#: archive shares
_last_read: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads only a changed
    (or unstat-able) archive; otherwise it adopts the last read."""
    stamp = _stamp(self.archive)
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _reread(self)
    if stamp is not None:
        _last_read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read each archive once, before the forks
    import pyspark.daemon

    pyspark.daemon.manager()
