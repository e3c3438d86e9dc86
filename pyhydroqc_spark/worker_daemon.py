"""Python worker daemon that runs the installed, byte-compiled pyspark.

Spark starts each executor's Python worker daemon as ``python -m <module>``
with its own archives ahead of site-packages on ``sys.path``: the
source-only ``pyspark.zip``, the py4j zip and the spark-core jar. Every
worker then compiles the pyspark modules it imports from source, and every
Python task's ``importlib.invalidate_caches()`` re-reads the directory of
each zip importer. ``session.get_spark`` names this module as
``spark.python.daemon.module``: it drops those archives from ``sys.path``
(and their importers from ``sys.path_importer_cache``) before it starts
``pyspark.daemon``, so forked workers import the installed pyspark the
session itself runs on. It does so only when pyspark and py4j are
importable outside the archives and the installed ``pyspark/version.py``
equals the one in ``pyspark.zip``; otherwise the path stays exactly as
Spark built it.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives (``pyspark.zip``, ``py4j-*.zip``,
    jars) if the pyspark found outside them is the version of the
    ``pyspark.zip`` among them, else ``path`` unchanged."""
    kept = [p for p in path if not _spark_archive(p)]
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    spec = PathFinder.find_spec("pyspark", kept)
    if not zips or spec is None or spec.origin is None:
        return path
    if PathFinder.find_spec("py4j", kept) is None:
        return path
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
        with zipfile.ZipFile(zips[0]) as z:
            shipped = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if installed == shipped else path


if __name__ == "__main__":
    kept = worker_path(sys.path)
    # the -m launch already made importers for the archives (and for the
    # packages inside them); drop those too, or they stay in use
    dropped = tuple(set(sys.path) - set(kept))
    for key in list(sys.path_importer_cache):
        if key.startswith(dropped):
            del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
