"""Every single-partition window in the package is on a reviewed allowlist.

A `Window.orderBy(...)` with no `partitionBy`, or a `Window.partitionBy()`
with no keys, moves every row of its input into one task (Spark logs "No
Partition Defined for Window operation"). That is fine over a small
aggregated frame and a scale bug over raw rows. This pure-`ast` scan finds
each such spec in the package and fails on one that is not listed below with
its reason. Entries are keyed by (module, enclosing function), not line
number, so an edit elsewhere in a module does not disturb them.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opentelemetry_collector_contrib_spark"

ALLOWED = {
    ("operators.curation", "score_decile_lift"): "ten decile rows after the groupBy",
    ("operators.curation", "proportional_allocation"): "one row per stratum after the groupBy",
    ("operators.dedup", "dup_cluster_sizes"): "the cluster-size histogram",
    ("operators.drift", "_psi_select"): "the bucket counts frame",
    ("operators.drift", "ks_drift"): "at most `grid` cell counts",
    ("operators.profiling", "key_skew_profile"): "one row per key after the groupBy",
    ("operators.sampling", "max_min_fair_share"): "one row per tenant demand",
    ("operators.sketches", "heavy_hitters"): "at most candidates + 1 aggregated rows",
    ("operators.textstats", "phrase_pmi"): "the scored bigram table, for a global top-k",
}


def _unpartitioned(tree: ast.AST):
    """(enclosing function, line) of each unpartitioned Window spec."""
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
        ):
            continue
        # follow the builder chain: Window.orderBy(..).partitionBy(..)...
        chain, cur = [node], node
        while isinstance(parent.get(cur), ast.Attribute) and isinstance(
            parent.get(parent[cur]), ast.Call
        ):
            cur = parent[parent[cur]]
            chain.append(cur)
        if any(c.func.attr == "partitionBy" and (c.args or c.keywords) for c in chain):
            continue
        names, p = [], parent.get(node)
        while p is not None:
            if isinstance(p, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.append(p.name)
            p = parent.get(p)
        yield ".".join(reversed(names)) or "<module>", node.lineno


def _sites() -> dict[tuple[str, str], list[int]]:
    out: dict[tuple[str, str], list[int]] = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            module = os.path.relpath(path, os.path.join(ROOT, PACKAGE))[:-3].replace(os.sep, ".")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for func, line in _unpartitioned(tree):
                out.setdefault((module, func), []).append(line)
    return out


def test_unpartitioned_windows_are_allowlisted():
    sites = _sites()
    new = {k: v for k, v in sites.items() if k not in ALLOWED}
    assert not new, (
        "single-partition Window specs not on the allowlist (add partitionBy keys, "
        f"or list the site with why its input is small): {new}"
    )
    stale = sorted(set(ALLOWED) - set(sites))
    assert not stale, f"allowlist entries with no unpartitioned window left: {stale}"


def test_scan_flags_both_forms():
    src = (
        "def f(df):\n"
        "    a = Window.orderBy('x')\n"
        "    b = Window.partitionBy()\n"
        "    c = Window.partitionBy('k').orderBy('x')\n"
        "    d = Window.orderBy('x').partitionBy('k')\n"
        "    e = Window.orderBy('x').rowsBetween(Window.unboundedPreceding, 0)\n"
    )
    assert sorted(line for _f, line in _unpartitioned(ast.parse(src))) == [2, 3, 6]
