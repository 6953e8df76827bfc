"""Tooling checks that need no Spark session: every module the scripts
import must exist, so a script left pointing at a deleted module fails
here instead of on its next manual run; and the package checkpoints
lineage only through ``operators.util.lineage_checkpoint``."""

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


PACKAGE = ROOT / "airflow_etl_pyspark_inmet_spark"


def bare_checkpoints(package: Path) -> list[str]:
    """``path:line`` of every ``localCheckpoint(`` call in ``package``
    outside ``operators/util.py``. A bare checkpoint hides its upstream
    plan from the segment audit (``util.AUDIT_SEGMENTS``); every other
    module must go through ``util.lineage_checkpoint``."""
    allowed = package / "operators" / "util.py"
    return [
        f"{path.relative_to(package)}:{n}"
        for path in sorted(package.rglob("*.py"))
        if path != allowed
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if "localCheckpoint(" in line
    ]


def test_every_checkpoint_goes_through_lineage_checkpoint():
    assert bare_checkpoints(PACKAGE) == []


def test_bare_checkpoint_scan_flags_other_modules(tmp_path):
    (tmp_path / "operators").mkdir()
    (tmp_path / "operators" / "util.py").write_text(
        "def lineage_checkpoint(df):\n    return df.localCheckpoint()\n"
    )
    (tmp_path / "op.py").write_text("x = df.localCheckpoint(eager=True)\n")
    assert bare_checkpoints(tmp_path) == ["op.py:1"]
