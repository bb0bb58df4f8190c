"""Python-worker housekeeping that every sketchlib task function runs first.

At the start of every task, Spark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.10-3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central directory,
one read per finder, even when several finders share one archive. A warm
worker that imports pyspark from ``pyspark.zip`` holds 16 such finders of
Spark's own archives: one per imported package directory of ``pyspark.zip``
(1,328 entries), two of the spark-core jar (5,359 entries) and two of py4j.
Measured in warm workers on a 4-core host with CPython 3.11 and Spark 4.1,
that one call took 140-330 ms per task, more than most sketchlib task bodies,
and 0.0-0.1 ms once those finders are gone. CPython 3.13 only drops a cache
entry there.

``drop_spark_zip_finders`` removes those finders from the cache, so the next
task's call has nothing of Spark's to re-read. Spark's installation cannot
change while a worker lives, so nothing is lost. A later first-time import
rebuilds a finder from ``zipimport._zip_directory_cache`` without reading
the archive again. Finders of any other archive (``addPyFile`` zips, the
user's own) stay, and keep CPython's re-read on every task.

The eviction only helps the worker's next task, and a finder made by an
import later in this task survives until the next call, so the call is made
on every task function entry, not once per process. It costs ~10-20 us.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _is_spark_jar(archive: str) -> bool:
    home = os.environ.get("SPARK_HOME")
    return bool(home) and archive.endswith(".jar") and (
        os.path.dirname(os.path.realpath(archive))
        == os.path.realpath(os.path.join(home, "jars")))


def _archive_of(module_name: str) -> str | None:
    return getattr(getattr(sys.modules.get(module_name), "__loader__", None), "archive", None)


def drop_spark_zip_finders() -> None:
    """Evict the import finders of Spark's own archives: the zips that
    ``pyspark`` and ``py4j`` were imported from and the jars of the Spark
    installation at ``SPARK_HOME``. Does nothing where pyspark is not
    imported from a zip (a driver with an installed pyspark)."""
    pyspark_zip = _archive_of("pyspark")
    if pyspark_zip is None:
        return
    spark_zips = (pyspark_zip, _archive_of("py4j"))
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
                finder.archive in spark_zips or _is_spark_jar(finder.archive)):
            cache.pop(key, None)
