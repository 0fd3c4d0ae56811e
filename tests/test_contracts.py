"""Contracts other code relies on by name: the query roster of
__spark_entry__.py (at most 50 rows are reported, and every query has an
oracle) and the tokenc names the benchmark in perfbench/ imports."""

from __future__ import annotations

import ast
import importlib
import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_roster_fits_report_and_has_oracles():
    sys.path.insert(0, str(ROOT))
    try:
        import __spark_entry__ as entry
    finally:
        sys.path.remove(str(ROOT))
    q = entry.queries()
    assert len(q) <= 50, len(q)
    assert q.keys() == entry.oracle_sql().keys()


def _tokenc_imports():
    for path in sorted((ROOT / "perfbench").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.module \
                    and node.module.split(".")[0] == "tokenc":
                for alias in node.names:
                    yield path.name, node.module, alias.name


@pytest.mark.parametrize("where,module,name", list(_tokenc_imports()))
def test_perfbench_tokenc_imports_resolve(where, module, name):
    mod = importlib.import_module(module)
    if not hasattr(mod, name):
        # `from tokenc import local` names a submodule
        importlib.import_module(f"{module}.{name}")
