"""Smoke test for the CLI scripts in tools/: every script compiles and every
argparse-based one answers --help from outside the repo, so a broken edit,
an import of a deleted module or a cwd-relative import path fails here
without starting a Spark session."""

from __future__ import annotations

import py_compile
import subprocess
import sys
from pathlib import Path

import pytest

_ROOT = Path(__file__).resolve().parent.parent
_TOOLS = sorted((_ROOT / "tools").glob("*.py"))


@pytest.mark.parametrize("path", _TOOLS, ids=lambda p: p.name)
def test_tool_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)


@pytest.mark.parametrize(
    "path", [p for p in _TOOLS if "argparse" in p.read_text()], ids=lambda p: p.name
)
def test_tool_help(path, tmp_path):
    proc = subprocess.run(
        [sys.executable, str(path), "--help"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "usage:" in proc.stdout


def test_bench_imports_without_spark(tmp_path):
    """bench.py has no --help (running it runs the bench); importing it from
    outside the repo must resolve its imports and start no SparkContext."""
    code = (
        "import importlib.util\n"
        f"spec = importlib.util.spec_from_file_location('bench', {str(_ROOT / 'bench.py')!r})\n"
        "bench = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(bench)\n"
        "from pyspark import SparkContext\n"
        "assert callable(bench.main)\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_plan_shape_counts_each_exchange_once():
    """A formatted dump names each node twice (tree line and numbered
    detail); the committed r13 dump has six exchanges, not twelve."""
    from map_reduce485_spark.plans import plan_shape

    text = (_ROOT / "plans" / "r13" / "dedup_minhash_lsh_before.txt").read_text()
    assert plan_shape(text) == (6, ["SortMergeJoin"], [])
