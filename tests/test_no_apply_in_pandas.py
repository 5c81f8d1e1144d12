"""No operator makes one Python call per group.

A `groupBy(...).applyInPandas(...)` call pays the Python call and the
pandas conversion once per group, and pandas turns an int64 column holding
a NULL into float64. Every per-key fold in the package runs through the
grouped Arrow kernel (`operators/_groups.py`) instead. This pure-`ast`
scan fails on any `.applyInPandas(` call in the package and names each
site. The streaming `applyInPandasWithState` twins are a different call
and stay allowed.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opentelemetry_collector_contrib_spark"


def _calls(tree: ast.AST):
    """Line of each `<expr>.applyInPandas(...)` call."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "applyInPandas"
        ):
            yield node.lineno


def test_no_apply_in_pandas_in_package():
    sites, scanned = [], 0
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            scanned += 1
            rel = os.path.relpath(path, ROOT)
            sites += [f"{rel}:{line}" for line in _calls(tree)]
    assert scanned, f"no package sources under {ROOT}"
    assert not sites, (
        "per-group applyInPandas calls (run the fold through "
        f"operators/_groups.group_kernel instead): {sites}"
    )


def test_scan_flags_only_apply_in_pandas():
    src = (
        "def f(df, g):\n"
        "    a = df.groupBy('k').applyInPandas(g, 's string')\n"
        "    b = df.groupBy('k').applyInPandasWithState(g, 's string', 's string', 'Append', 'NoTimeout')\n"
        "    c = df.mapInArrow(g, 's string')\n"
    )
    assert list(_calls(ast.parse(src))) == [2]
