"""PySpark's worker daemon, started with pyspark imported from
site-packages instead of Spark's archives.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which re-reads the whole
directory of an archive once for each of its import paths: with
pyspark imported from ``pyspark.zip``, once per package imported from
it, 0.13-0.16 s per task on 4 cores.  When site-packages holds the same
pyspark (its ``version.py`` matches the zip's) and a py4j, the daemon
takes Spark's pyspark and py4j zips and the jars under ``SPARK_HOME``
(which hold no Python) off ``sys.path`` before it imports pyspark, and
the workers it forks inherit that import.  Otherwise it leaves the path
alone and is PySpark's own daemon.  ``session.get_spark`` starts it through
``spark.python.daemon.module``.
"""

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    if name.endswith(".jar"):
        # a user's jar stays; SPARK_HOME may be a symlink to the jars' tree
        home = os.environ.get("SPARK_HOME")
        return home is not None and os.path.realpath(entry).startswith(
            os.path.realpath(home) + os.sep)
    return name.endswith(".zip") and name.startswith(("pyspark", "py4j"))


def _zip_version(z: str) -> bytes | None:
    with zipfile.ZipFile(z) as zf:
        return zf.read("pyspark/version.py") if "pyspark/version.py" in zf.namelist() else None


def drop_spark_archives(path: list) -> bool:
    """Take Spark's archives off ``path`` (``sys.path``) if the other
    entries import the same pyspark and a py4j; True if it did."""
    archives = [p for p in path if _spark_archive(p)]
    rest = [p for p in path if p not in archives]
    spec = PathFinder.find_spec("pyspark", rest)
    if not archives or spec is None or PathFinder.find_spec("py4j", rest) is None:
        return False
    with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
        ours = f.read()
    if any(_zip_version(z) != ours for z in archives
           if os.path.basename(z).startswith("pyspark")):
        return False
    path[:] = rest
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]
    return True


if __name__ == "__main__":
    drop_spark_archives(sys.path)
    from pyspark.daemon import manager

    manager()
