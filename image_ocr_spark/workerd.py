"""Python worker daemon that imports pyspark from the interpreter, not from zips.

Spark starts every Python worker with its archives first on ``PYTHONPATH``
(``pyspark.zip``, the py4j source zip and the spark-core jar).  On every task
``pyspark.worker.main`` calls ``importlib.invalidate_caches()``, and on
Python 3.11 that makes each cached ``zipimporter`` re-read its archive's whole
central directory in pure Python.  A worker holds one per imported pyspark
subpackage (1,328 entries each) plus the spark-core jar's (5,359 entries):
0.11-0.15 s per task on a 4-core VM, against <1 ms for an identity UDF
body.  When the interpreter's
own path already provides ``pyspark`` and ``py4j``, this module drops the
``.zip``/``.jar`` entries, and their cached importers, before the daemon
imports anything from pyspark, so no zipimporter exists to be invalidated.
Otherwise ``sys.path`` is left as Spark built it.

Only the standard library is imported before the path is filtered.  Spark
runs ``python -m image_ocr_spark.workerd`` when ``spark.python.daemon.module``
names it, as ``session.get_spark`` does for local masters.  Modules shipped with
``addPyFile``/``--py-files`` are unaffected: the worker inserts them into
``sys.path`` per task, after this filter ran.  A zip put on ``PYTHONPATH``
by hand is dropped with Spark's; ship such code with ``addPyFile``.
"""

from __future__ import annotations

import sys
from importlib.machinery import PathFinder

ARCHIVE_SUFFIXES = (".zip", ".jar")


def strip_archives(path: list[str]) -> list[str]:
    """``path`` without its archive entries, if ``pyspark`` and ``py4j``
    are both importable from what remains; else ``path`` unchanged."""
    rest = [p for p in path if not p.endswith(ARCHIVE_SUFFIXES)]
    if all(PathFinder.find_spec(m, rest) for m in ("pyspark", "py4j")):
        return rest
    return path


if __name__ == "__main__":
    kept = strip_archives(sys.path)
    for dropped in set(sys.path) - set(kept):
        # interpreter startup already cached a zipimporter per archive, and
        # invalidate_caches() walks that cache, not sys.path
        sys.path_importer_cache.pop(dropped, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
