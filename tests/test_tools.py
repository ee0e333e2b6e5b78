"""Smoke test for the CLI scripts in tools/: every script compiles and every
argparse-based one answers --help, so a broken edit or an import of a
deleted module fails here without starting a Spark session."""

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
def test_tool_help(path):
    proc = subprocess.run(
        [sys.executable, str(path), "--help"],
        cwd=_ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "usage:" in proc.stdout
