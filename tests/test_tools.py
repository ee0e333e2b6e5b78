"""Smoke test for the CLI scripts in tools/: every script compiles and every
argparse-based one answers --help from outside the repo (plan_audit.py in
each mode), so a broken edit, an import of a deleted module or a
cwd-relative import path fails here without starting a Spark session.
plan_audit's registry sweeps also run in-process on a few queries."""

from __future__ import annotations

import py_compile
import subprocess
import sys
from pathlib import Path

import pytest
from conftest import SF_SMOKE

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


@pytest.mark.parametrize("mode", ["audit", "dump", "stats", "stream"])
def test_plan_audit_mode_help(mode, tmp_path):
    proc = subprocess.run(
        [sys.executable, str(_ROOT / "tools" / "plan_audit.py"), mode, "--help"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "usage:" in proc.stdout


def _plan_audit():
    sys.path.insert(0, str(_ROOT / "tools"))
    import plan_audit

    return plan_audit


def test_plan_audit_stats_one_line_per_query(spark, capsys):
    names = ["q12_late_shipment_priority", "q14_promo_revenue"]
    _plan_audit().stats(spark, names, SF_SMOKE)
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split("\t")[0] for ln in lines] == names
    assert all("\tex=" in ln for ln in lines), lines


def test_plan_audit_dump_releases_scoped_storage(spark, tmp_path, monkeypatch):
    """The dump sweep releases each query's scoped storage: the pipe word
    count's `mr485_wc_*` scratch dir is gone once its plan is written."""
    from map_reduce485_spark.queries import _util

    pa = _plan_audit()
    scratch: list[str] = []
    real_release = pa.release_scoped_caches

    def spy_release():
        scratch.extend(h for h in _util._SCOPED if isinstance(h, str))
        return real_release()

    monkeypatch.setattr(pa, "release_scoped_caches", spy_release)
    pa.dump(spark, ["mapreduce_wordcount_pipe"], SF_SMOKE, tmp_path, "t")
    assert (tmp_path / "mapreduce_wordcount_pipe_t.txt").read_text().startswith("== Physical Plan")
    assert _util._SCOPED == []
    assert any(Path(d).name.startswith("mr485_wc_") for d in scratch), scratch
    assert not any(Path(d).exists() for d in scratch), scratch


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
