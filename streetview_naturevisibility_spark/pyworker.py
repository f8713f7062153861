"""The Python worker daemon of local-mode sessions: Spark's own
``pyspark.daemon``, started without Spark's archives on ``sys.path``.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on the
workers' ``PYTHONPATH``. Every task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which makes each
``zipimporter`` re-read its whole archive directory in pure Python:
110-250 ms before a task's UDF first runs, 50-70 ms without them.
When the installed ``pyspark`` is the archive's version, the daemon
drops the archives (and their importers) before it forks any worker,
so tasks import the same code from plain directories.
``session.get_spark`` starts this module as ``spark.python.daemon.module``
for ``local`` masters only.
"""

import os
import sys
from importlib.machinery import PathFinder


def _version(path: list[str]) -> str | None:
    """Source of the ``pyspark.version`` that ``path`` imports."""
    pkg = PathFinder.find_spec("pyspark", path)
    mod = pkg and PathFinder.find_spec("pyspark.version", pkg.submodule_search_locations)
    return mod and mod.loader.get_source("pyspark.version")


def strip_archives(path: list[str], cache: dict, spark_home: str) -> None:
    """Drop the ``.zip``/``.jar`` entries under ``spark_home`` from
    ``path`` and their importers from ``cache``, when ``path`` without
    them imports py4j and a ``pyspark`` of the same version; otherwise
    leave both alone."""
    home = os.path.join(os.path.realpath(spark_home), "")
    archives = tuple(p for p in path if spark_home and p.endswith((".zip", ".jar"))
                     and os.path.realpath(p).startswith(home))
    kept = [p for p in path if p not in archives]
    if not archives or PathFinder.find_spec("py4j", kept) is None:
        return
    version = _version(kept)
    if version is None or version != _version(path):
        return
    path[:] = kept
    for key in [k for k in cache if k.startswith(archives)]:
        del cache[key]


if __name__ == "__main__":
    strip_archives(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME", ""))
    from pyspark import daemon

    daemon.manager()
