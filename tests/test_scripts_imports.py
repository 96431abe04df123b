"""``scripts/*.py`` run by hand only, so a deleted engine name they import
surfaces nowhere else: resolve every ``from dask_image_spark... import``
and ``from scripts... import`` in them (function-local ones included)
without Spark, and keep the retired ``bench`` harness from returning."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))
CHECKED_PACKAGES = ("dask_image_spark", "scripts")


def _from_imports(path: Path):
    """(module, name, line) for every checked ``from X import name``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module.split(".")[0] in CHECKED_PACKAGES
        ):
            for alias in node.names:
                yield node.module, alias.name, node.lineno


CASES = [
    pytest.param(mod, name, id=f"{p.name}:{line}:{mod}.{name}")
    for p in SCRIPTS
    for mod, name, line in _from_imports(p)
]


def test_scripts_have_checked_imports():
    assert SCRIPTS, "no scripts/*.py found"
    assert CASES, "no dask_image_spark/scripts imports found in scripts/"


@pytest.mark.parametrize("module,name", CASES)
def test_script_import_resolves(module, name):
    mod = importlib.import_module(module)
    assert hasattr(mod, name), f"{module} has no attribute {name!r}"


def test_nothing_imports_bench():
    offenders = []
    for p in ROOT.rglob("*.py"):
        if ".git" in p.parts:
            continue
        for node in ast.walk(ast.parse(p.read_text(), str(p))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                mods = [node.module]
            else:
                continue
            if any(m == "bench" or m.startswith("bench.") for m in mods):
                offenders.append(f"{p.relative_to(ROOT)}:{node.lineno}")
    assert not offenders, offenders
