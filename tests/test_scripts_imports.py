"""``scripts/*.py`` run by hand only, so a deleted engine name they import
surfaces nowhere else: resolve every ``from dask_image_spark... import``,
``from scripts... import`` and ``from tests... import`` in them
(function-local ones included) without Spark, and keep the retired
``bench`` harness from returning."""

from __future__ import annotations

import ast
import functools
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))
CHECKED_PACKAGES = ("dask_image_spark", "scripts", "tests")


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


@functools.lru_cache(maxsize=None)
def _imported_names(path: Path) -> frozenset:
    return frozenset((mod, name) for mod, name, _ in _from_imports(path))


# scale_parity_x{16,64,256}.py were merged into scale_parity.py, which now
# makes the three imports they shared; their cases keep the ids the suite
# has always reported and check that the merged script still makes them.
MERGED_INTO = ROOT / "scripts" / "scale_parity.py"
MERGED_IMPORTS = (
    ("dask_image_spark.sources.tables", "load_table"),
    ("dask_image_spark", "queries"),
    ("dask_image_spark.session", "get_spark"),
)
MERGED_LINES = {
    "scale_parity_x16.py": (514, 582, 583),
    "scale_parity_x64.py": (159, 233, 234),
    "scale_parity_x256.py": (123, 198, 199),
}

CASES = [
    pytest.param(p, mod, name, id=f"{p.name}:{line}:{mod}.{name}")
    for p in SCRIPTS
    for mod, name, line in _from_imports(p)
] + [
    pytest.param(MERGED_INTO, mod, name, id=f"{old}:{line}:{mod}.{name}")
    for old, lines in MERGED_LINES.items()
    for (mod, name), line in zip(MERGED_IMPORTS, lines)
]


def test_scripts_have_checked_imports():
    assert SCRIPTS, "no scripts/*.py found"
    assert CASES, "no dask_image_spark/scripts imports found in scripts/"


@pytest.mark.parametrize("script,module,name", CASES)
def test_script_import_resolves(script, module, name):
    assert (module, name) in _imported_names(script), (
        f"{script.name} no longer imports {module}.{name}"
    )
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
