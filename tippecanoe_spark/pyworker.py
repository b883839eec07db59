"""Python daemon entry for local-mode sessions.

PySpark's worker ends every task's file setup with
``importlib.invalidate_caches()``, which on Python >= 3.10 makes each
zipimporter re-read its archive's central directory — pyspark.zip, the
spark-core jar and py4j; 0.16-0.31 s of CPU per task, measured on a
4-core x86 host with Spark 4.1.2 and Python 3.11.  Importing this
module makes a zipimporter re-read only when its archive's
``(st_size, st_mtime_ns)`` differs from what it last read; a new
importer, or an archive whose stat fails, always re-reads.

``session.get_spark`` starts it as ``spark.python.daemon.module``;
forked workers inherit the patch.  (``spark.python.worker.module``
cannot carry it: pyspark.daemon honours only ``pyspark*`` modules.)
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    stat = _archive_stat(self.archive)
    if stat is None or stat != getattr(self, "_read_stat", None):
        _reread(self)
        self._read_stat = stat


if __name__ == "__main__":
    # `python -m` runs this file as __main__: import it under its real
    # name so the patch is installed once, by tippecanoe_spark.pyworker
    import tippecanoe_spark.pyworker  # noqa: F401
    from pyspark.daemon import manager

    # read every importer once here, so forked workers start current
    importlib.invalidate_caches()
    manager()
else:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
