"""The entry of the engine's Python workers: ``pyspark.daemon`` behind a
trimmed ``sys.path``.

Spark starts a Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar at the front of ``PYTHONPATH``.  For
every task PySpark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
directory: about a dozen importers on pyspark.zip (1,328 entries) and two
on the jar (5,359 entries, no Python in it), 160-460 ms of CPU per task.

:func:`map_reduce485_spark.session.get_spark` names this module in
``spark.python.daemon.module``, so Spark runs
``python -m map_reduce485_spark.daemon pyspark.worker``.  Before anything
imports pyspark, the module drops from ``sys.path`` every entry under
``realpath($SPARK_HOME)/jars/``, and ``pyspark.zip`` too when the rest of
the path holds a directory package of the same pyspark (byte-equal
``version.py``); it evicts their importers, then runs ``pyspark.daemon`` as
``__main__``.  The py4j zip and every other entry stay.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder


def _same_pyspark(pyspark_zip: str, path: list[str]) -> bool:
    """Whether ``path`` imports pyspark from a directory whose
    ``version.py`` is byte-equal to the one in ``pyspark_zip``."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return False
    package = spec.submodule_search_locations[0]
    if not os.path.isdir(package):  # another archive
        return False
    try:
        with open(os.path.join(package, "version.py"), "rb") as f:
            mine = f.read()
        with zipfile.ZipFile(pyspark_zip) as z:
            theirs = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    return mine == theirs


def trim(path: list[str], importer_cache: dict, spark_home: str | None) -> list[str]:
    """Remove from ``path``, in place, the entries a worker imports nothing
    from that another entry does not give it too, and every importer cached
    for them or for a directory inside them (the ``python -m`` lookup has
    already made some); return the removed entries."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    jars = os.path.join(home, "jars") + os.sep
    pyspark_zip = os.path.join(home, "python", "lib", "pyspark.zip")
    dropped = [p for p in path if os.path.realpath(p).startswith(jars)]
    zips = [p for p in path if os.path.realpath(p) == pyspark_zip]
    if zips and _same_pyspark(pyspark_zip, [p for p in path if p not in dropped + zips]):
        dropped += zips
    path[:] = [p for p in path if p not in dropped]
    prefixes = tuple(d + os.sep for d in dropped)
    for key in [k for k in importer_cache if k in dropped or k.startswith(prefixes)]:
        del importer_cache[key]
    return dropped


if __name__ == "__main__":
    trim(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME"))
    # alter_sys keeps sys.argv[1:], the worker module Spark passes
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
