"""The engine's Python-worker entry (`map_reduce485_spark/daemon.py`): which
``sys.path`` entries it drops, and what a `get_spark` session's workers see."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from map_reduce485_spark.daemon import trim
from tests.conftest import ROOT

VERSION = b'__version__: str = "9.9.9"\n'


def fake_spark_home(tmp_path: Path, site_version: bytes | None):
    """A Spark distribution reached through a symlink, as a version-named
    install often is, and a site directory with a pyspark package whose ``version.py`` is
    ``site_version`` (no package for None)."""
    real = tmp_path / "spark-9.9.9-bin"
    (real / "jars").mkdir(parents=True)
    (real / "jars" / "x.jar").write_bytes(b"PK\x05\x06" + bytes(18))  # empty zip
    lib = real / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", VERSION)
    with zipfile.ZipFile(lib / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    home = tmp_path / "spark"
    home.symlink_to(real)
    site = tmp_path / "site"
    site.mkdir()
    if site_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(site_version)
    # the worker's PYTHONPATH names the zips through SPARK_HOME and the jar
    # by its real path
    entries = {
        "zip": str(home / "python" / "lib" / "pyspark.zip"),
        "py4j": str(home / "python" / "lib" / "py4j-src.zip"),
        "jar": str(real / "jars" / "x.jar"),
        "site": str(site),
    }
    return home, entries


def importer_cache(entries: dict[str, str]) -> dict:
    cache = {p: object() for p in entries.values()}
    # the zipimporters the `python -m` lookup leaves for packages inside
    cache[entries["zip"] + "/pyspark"] = object()
    cache[entries["jar"] + "/org"] = object()
    return cache


@pytest.mark.parametrize(
    "site_version, zip_dropped",
    [(VERSION, True), (b'__version__: str = "9.9.8"\n', False), (None, False)],
    ids=["same-version", "other-version", "no-directory-package"],
)
def test_trim_drops_jars_and_a_duplicate_pyspark_zip(tmp_path, site_version, zip_dropped):
    home, e = fake_spark_home(tmp_path, site_version)
    path = [e["zip"], e["py4j"], e["jar"], e["site"]]
    cache = importer_cache(e)

    dropped = trim(path, cache, str(home))

    gone = {"jar", "zip"} if zip_dropped else {"jar"}
    assert sorted(dropped) == sorted(e[k] for k in gone)
    assert path == [e[k] for k in ("zip", "py4j", "jar", "site") if k not in gone]
    assert not any(k.startswith(e["jar"]) for k in cache)
    assert any(k.startswith(e["zip"]) for k in cache) is not zip_dropped
    assert e["py4j"] in cache and e["site"] in cache


def test_trim_without_spark_home_changes_nothing(tmp_path):
    _, e = fake_spark_home(tmp_path, VERSION)
    path = list(e.values())
    cache = importer_cache(e)
    before = (list(path), dict(cache))
    for spark_home in (None, ""):
        assert trim(path, cache, spark_home) == []
    assert (path, cache) == before


def test_task_imports_pyspark_from_a_directory(spark):
    """A task of a `get_spark` session runs pyspark from a directory, and no
    importer for Spark's zip or jar is left for invalidate_caches to re-read."""

    def probe(_):
        import sys
        import zipimport

        import pyspark

        archives = [
            key
            for key, imp in sys.path_importer_cache.items()
            if isinstance(imp, zipimport.zipimporter) and ("pyspark.zip" in key or ".jar" in key)
        ]
        yield pyspark.__file__, archives

    [(pyspark_file, archives)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert os.path.isfile(pyspark_file), pyspark_file
    assert archives == []


def test_package_import_leaves_pyspark_unimported():
    code = "import sys, map_reduce485_spark; print('pyspark' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=ROOT, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["False"]


def test_get_spark_workers_need_no_pythonpath(tmp_path):
    """From a working directory outside the repository, with PYTHONPATH
    unset, a callable word count through `get_spark` runs: the workers find
    the engine on the PYTHONPATH get_spark gives them.  A plain session,
    built first because the JVM keeps a session's confs as system
    properties for the sessions after it, keeps PySpark's own daemon."""
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "a.txt").write_text("b a\na\n")
    code = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from map_reduce485_spark import get_spark
from map_reduce485_spark.mapreduce import JobRequest, run_job

def wc_map(line):
    return [w + "\\t1" for w in line.split()]

def wc_reduce(key, values):
    yield f"{{key}}\\t{{sum(int(v) for v in values)}}"

from pyspark.sql import SparkSession
plain = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
print("PLAIN", plain.sparkContext.getConf().get("spark.python.daemon.module", "unset"))
plain.stop()
spark = get_spark("no_pythonpath", cpus=2)
print("ENGINE", spark.sparkContext.getConf().get("spark.python.daemon.module"))
run_job(spark, JobRequest("in", "out", wc_map, wc_reduce, 2, 2))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-2:] == ["PLAIN unset", "ENGINE map_reduce485_spark.daemon"]
    lines = sorted(
        line for part in (tmp_path / "out").glob("part-*") for line in part.read_text().splitlines()
    )
    assert lines == ["a\t2", "b\t1"]
