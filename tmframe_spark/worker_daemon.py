"""PySpark worker daemon that re-reads a zip archive only when it changed.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task. On
CPython 3.10-3.12 that makes every ``zipimporter`` on ``sys.path`` re-read
its archive's whole central directory: a warm worker holds ~16 of them
(pyspark.zip, the spark-core jar, py4j), 0.12-0.25 s of CPU per task.
Here ``zipimporter.invalidate_caches`` re-reads only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the one it last read (or
cannot be stat'ed); directory finders are invalidated as before. Spark
runs this module through ``spark.python.daemon.module`` (session.get_spark
sets it); every worker forks from it, so the patch is applied once, and
only when the module runs as ``__main__``.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def stat_guarded(invalidate):
    """Wrap ``zipimporter.invalidate_caches``: call ``invalidate`` unless
    the archive's stat stamp equals the one stored at the last re-read."""

    def guarded(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_tm_stamp", None):
            invalidate(self)
            self._tm_stamp = stamp

    return guarded


if __name__ == "__main__":
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is not None:
        zipimport.zipimporter.invalidate_caches = stat_guarded(original)

    from pyspark.daemon import manager

    manager()
