"""PySpark daemon whose workers import the installed PySpark.

The JVM starts the daemon with ``$SPARK_HOME/python/lib/*.zip`` and the
spark-core jar ahead of site-packages on ``PYTHONPATH``.  ``pyspark.zip``
holds sources only, so every daemon compiles PySpark, and every task's
``importlib.invalidate_caches()`` re-reads the archives through their
zipimporters.  This module drops those archives, but only when ``pyspark``
and ``py4j`` still resolve without them, and then runs the stock daemon.
``session.get_spark`` selects it with ``spark.python.daemon.module``.
"""

import os
import sys
from importlib.machinery import PathFinder


def without_spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` minus the files in Spark's ``python/lib`` and ``jars`` dirs;
    ``path`` itself when ``pyspark`` or ``py4j`` resolves only from them."""
    if not spark_home:
        return path
    home = os.path.realpath(spark_home)
    libs = {os.path.join(home, "python", "lib"), os.path.join(home, "jars")}
    kept = [p for p in path if os.path.dirname(os.path.realpath(p)) not in libs]
    specs = [PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")]
    return kept if all(s and s.has_location for s in specs) else path


if __name__ == "__main__":
    kept = without_spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    from pyspark.daemon import manager

    manager()
