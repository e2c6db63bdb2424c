"""The Python worker daemon, run from the installed pyspark.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on every Python worker's ``sys.path``. The zip holds
no bytecode, so a daemon started from it compiles pyspark (1.30-1.37 s,
against 0.33-0.37 s from the installed package, 4-core host), and every
task calls ``importlib.invalidate_caches()``, which makes each zipimporter
re-read its archive's directory (0.13-0.19 s of CPU per task).
``session.get_spark`` names this module
``spark.python.daemon.module``: it drops those three entries (by real
path) and their zipimporters, keeps every other entry, and runs the
daemon of the pyspark found next on the path.
"""

import os
import sys

if __name__ == "__main__":
    home = os.path.realpath(os.environ.get("SPARK_HOME", "/nonexistent"))
    lib, jars = os.path.join(home, "python", "lib"), os.path.join(home, "jars")

    def spark_entry(path):
        where, name = os.path.split(os.path.realpath(path))
        return (where == lib and (name == "pyspark.zip" or name.startswith("py4j-"))) or (
            where == jars and name.startswith("spark-core_")
        )

    dropped = [p for p in sys.path if spark_entry(p)]
    sys.path[:] = [p for p in sys.path if p not in dropped]
    inside = tuple(p + os.sep for p in dropped)
    for key in [k for k in sys.path_importer_cache if k in dropped or k.startswith(inside)]:
        del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()
