"""Static import check for the scripts that live outside ``tests/``.

``bench.py``, ``__spark_entry__.py``, the benchmark under ``perfbench/`` and
the remaining ``tools/`` scripts reach into the package by name; nothing
else imports them, so a moved or deleted helper would only surface when
someone runs the script.  This test parses each one with ``ast`` and checks,
without starting Spark, that

- every ``from trafficbigdatasearch_spark... import name`` (and every
  ``import trafficbigdatasearch_spark...``) resolves, and
- every ``standard.<attr>`` access names an attribute that
  ``queries.standard`` defines.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest
from pyspark import SparkContext

from trafficbigdatasearch_spark.queries import standard

ROOT = Path(__file__).resolve().parent.parent
PKG = "trafficbigdatasearch_spark"
STANDARD = f"{PKG}.queries.standard"

SCRIPTS = sorted(
    [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    + list((ROOT / "tools").glob("*.py"))
    + list((ROOT / "perfbench").glob("*.py"))
)


def _resolves(module: str, name: str | None = None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def _check(path: Path) -> tuple[int, list[str]]:
    """(package references checked, unresolved references) for one script."""
    tree = ast.parse(path.read_text(), filename=str(path))
    checked, bad = 0, []
    aliases = set()  # local names bound to queries.standard
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == PKG:
            for a in node.names:
                checked += 1
                if not _resolves(node.module, a.name):
                    bad.append(f"line {node.lineno}: from {node.module} import {a.name}")
                if f"{node.module}.{a.name}" == STANDARD:
                    aliases.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    checked += 1
                    if not _resolves(a.name):
                        bad.append(f"line {node.lineno}: import {a.name}")
                    if a.name == STANDARD and a.asname:
                        aliases.add(a.asname)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            checked += 1
            if not hasattr(standard, node.attr):
                bad.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
    return checked, bad


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_package_references_resolve(path):
    active = SparkContext._active_spark_context
    _, bad = _check(path)
    assert not bad, f"{path.relative_to(ROOT)}: unresolved {bad}"
    # resolution is import-only: no session may be started by it
    assert SparkContext._active_spark_context is active


def test_check_is_not_vacuous():
    """The scan finds the scripts, and bench.py / __spark_entry__.py reach
    the registry through ``standard.queries`` / ``standard.oracle_sql``."""
    assert {"bench.py", "__spark_entry__.py", "driver_sim.py", "run.py"} <= {
        p.name for p in SCRIPTS
    }
    assert _check(ROOT / "bench.py")[0] >= 3
    assert _check(ROOT / "__spark_entry__.py")[0] >= 3
