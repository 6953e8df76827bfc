"""Tooling checks that need no Spark session: every module the scripts
import must exist, so a script left pointing at a deleted module fails
here instead of on its next manual run."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted(ROOT.glob("scripts/*.py")) + [ROOT / "__spark_entry__.py"]


def imported_modules(path: Path) -> set[str]:
    """Absolute module names imported anywhere in ``path``, including
    imports nested inside functions and ``if __name__`` blocks."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.add(node.module)
    return names


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_script_imports_resolve(path, monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT))
    # the full dotted name, so a deleted submodule of an existing
    # package is caught as well as a deleted top-level module
    missing = sorted(
        m for m in imported_modules(path) if importlib.util.find_spec(m) is None
    )
    assert not missing, f"{path.name} imports modules that do not exist: {missing}"


def test_import_walk_sees_nested_imports(tmp_path):
    src = tmp_path / "tool.py"
    src.write_text(
        "def main():\n"
        "    if True:\n"
        "        from retired_tool import NAMES\n"
        "    import os.path\n"
    )
    assert imported_modules(src) == {"retired_tool", "os.path"}
