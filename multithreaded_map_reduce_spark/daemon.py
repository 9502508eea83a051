"""Python worker daemon: pyspark's own, importing the driver's pyspark.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/*.zip``
(pyspark and py4j) and the spark-core jar ahead of site-packages on
``sys.path``. pyspark calls ``importlib.invalidate_caches()`` on every
task, and under CPython 3.11 every ``zipimporter`` then re-reads its
archive's directory: 6.7k entries, tens of milliseconds per task.

``get_spark`` starts the daemon as ``python -m`` this module
(``spark.python.daemon.module``). It drops those archives from
``sys.path`` when ``pyspark`` and ``py4j`` resolve without them, to the
same pyspark release, and then runs ``pyspark.daemon.manager()``
unchanged. Otherwise the path stays as Spark set it. The forked
workers inherit the path. Nothing may import pyspark before
``worker_path`` has run, which is why the package ``__init__`` is lazy.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archives(path: list[str], spark_home: str | None) -> set[str]:
    """The entries of ``path`` that Spark itself prepends."""
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib")) if spark_home else None
    return {
        p
        for p in path
        if fnmatch.fnmatch(os.path.basename(p), "spark-core_*.jar")
        or (p.endswith(".zip") and os.path.realpath(os.path.dirname(p)) == lib)
    }


def _origin(name: str, path: list[str]) -> str | None:
    """The source file ``import name`` would load from ``path``, if it is
    a plain file (a module inside an archive has no such file)."""
    spec = PathFinder.find_spec(name, path)
    origin = spec and spec.origin
    return origin if origin and os.path.isfile(origin) else None


def _same_release(pyspark_zip: str, pyspark_init: str) -> bool:
    """Whether the pyspark at ``pyspark_init`` has the ``version.py`` of
    the one in ``pyspark_zip``."""
    try:
        with zipfile.ZipFile(pyspark_zip) as z:
            shipped = z.read("pyspark/version.py")
        with open(os.path.join(os.path.dirname(pyspark_init), "version.py"), "rb") as f:
            return f.read() == shipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself unless
    ``pyspark`` and ``py4j`` load from plain files without them and the
    pyspark found is the release in Spark's ``pyspark.zip``."""
    archives = _spark_archives(path, spark_home)
    rest = [p for p in path if p not in archives]
    pyspark = _origin("pyspark", rest)
    if not archives or not (pyspark and _origin("py4j", rest)):
        return path
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    return rest if all(_same_release(z, pyspark) for z in zips) else path


def main() -> None:
    path = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    for dropped in set(sys.path) - set(path):
        sys.path_importer_cache.pop(dropped, None)
    sys.path[:] = path

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
