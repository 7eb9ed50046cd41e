"""Python worker daemon that imports pyspark from ``$SPARK_HOME/python``.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on a
worker's ``sys.path``.  Every task calls ``importlib.invalidate_caches()``,
which on CPython 3.11 makes each zipimporter re-read its archive
directory: 0.14-0.32 s per task on a 4-core host.  The unpacked package
holds the same files, so the daemon imports from there instead.  Stdlib
only: pyspark must not load before the path is set.
"""

import os
import sys


def worker_sys_path(path, spark_home):
    """``path`` with ``$SPARK_HOME/python`` first and no ``pyspark.zip``
    or ``*.jar`` entry; unchanged when the unpacked package is absent."""
    if not spark_home:
        return list(path)
    python = os.path.join(spark_home, "python")
    if not os.path.isfile(os.path.join(python, "pyspark", "daemon.py")):
        return list(path)
    return [python] + [p for p in path if p != python and not (
        os.path.basename(p) == "pyspark.zip" or p.endswith(".jar"))]


if __name__ == "__main__":
    import runpy

    kept = worker_sys_path(sys.path, os.environ.get("SPARK_HOME"))
    for p in set(sys.path) - set(kept):
        # start-up made zipimporters for these while importing the stdlib
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
