"""Reachability guard: every top-level package def is reached from the surface.

The surface is `job.py`, `bench.py`, `__spark_entry__.py` (the registry),
`scripts/*.py`, the non-test files of `perfbench/`, and every top-level def
of `streaming/pipeline.py` (the streaming twins). The scan is pure `ast` and
text, with no Spark:

* Module pass: walk imports from the surface files, nested imports included.
  A string holding a dotted package module path (the `file_source.WIRE_DECODERS`
  table) counts as an import. A package module the walk never reaches is
  dead as a whole.
* Def pass: in each reached module, a top-level def or module constant is
  live when its name appears as a word in a surface file, in the module-level
  code of a reached module (module docstrings and imports aside, but a
  package `__init__`'s re-exports included), or in a live unit other than
  itself; iterate to a fixpoint. Words inside strings and comments count, so
  the scan errs on the side of keeping code. Dunder defs such as a module
  `__getattr__` are called by Python itself and always count as live.

A def the surface never reaches fails the test unless it is on ALLOWED with
its reason. Run it as a script to print the unreachable defs and their sizes:

    python tests/test_surface_reachability.py
"""

from __future__ import annotations

import ast
import functools
import os
import re
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opentelemetry_collector_contrib_spark"
TWINS = f"{PACKAGE}.streaming.pipeline"

# (module, def) -> reason; a def of None covers the whole module.
ALLOWED = {
    (f"{PACKAGE}.plans.collector_config", None):
        "collector-YAML shim, the one translation from the reference's own config "
        "format; whether job.py --config accepts YAML is a surface decision still open",
    (f"{PACKAGE}.operators.grok", "grok_parser_vectorized"):
        "oracle of the both-paths tests in tests/test_grok.py",
    (f"{PACKAGE}.operators.html_extract", "extract_html_text_vectorized"):
        "oracle of tests/test_html_extract.py::test_native_vectorized_parity",
    (f"{PACKAGE}.operators.iforest", "path_length_py"):
        "oracle of tests/test_iforest.py::test_compiled_column_matches_python_traversal",
    (f"{PACKAGE}.operators.sampling", "tvalue_to_threshold"):
        "Python reference of tests/test_sampling.py::test_column_kernels_match_python",
    (f"{PACKAGE}.operators.sampling", "randomness_to_rvalue"):
        "Python reference of tests/test_sampling.py::test_rvalue_roundtrip",
    (f"{PACKAGE}.operators.sampling", "randomness_from_bytes"):
        "Python reference of tests/test_sampling.py::test_fnv_randomness_col_matches_python",
    (f"{PACKAGE}.operators.similarity", "dequantize"):
        "oracle of tests/test_datapipe.py::test_quantize_dequantize_roundtrip",
    (f"{PACKAGE}.plans.bucketing", "exchange_count"):
        "plan probe of the no-exchange tests in tests/test_bucketing.py",
    (f"{PACKAGE}.operators.zorder", "cluster_by_zorder"):
        "fixture of the live prune_files check in tests/test_zorder.py",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_MODULE_STR = re.compile(rf"\b{PACKAGE}(?:\.\w+)+")


def _module_files() -> dict[str, str]:
    """Every package module name -> its file path."""
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), ROOT)[:-3].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            out[".".join(rel)] = os.path.join(dirpath, f)
    return out


def _root_files() -> list[str]:
    files = [os.path.join(ROOT, f) for f in ("job.py", "bench.py", "__spark_entry__.py")]
    for d in ("scripts", "perfbench"):
        files += sorted(
            os.path.join(ROOT, d, f) for f in os.listdir(os.path.join(ROOT, d))
            if f.endswith(".py") and not f.startswith("test_")
        )
    return files


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return fh.read()


_IMPORT = re.compile(r"^[ \t]*import[ \t]+([\w., \t]+)", re.M)
_FROM = re.compile(r"^[ \t]*from[ \t]+(\.*)([\w.]*)[ \t]+import[ \t]+(\([^)]*\)|[^\n#]*)", re.M)


def _imports(source: str, module: str | None, is_pkg: bool, modules) -> set[str]:
    """Package modules a file imports anywhere in its body (nested too)."""
    found = set()

    def add(name: str) -> None:
        # importing a.b.c imports a and a.b as well
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            if ".".join(parts[:i]) in modules:
                found.add(".".join(parts[:i]))

    for names in _IMPORT.findall(source):
        for n in names.split(","):
            if n.split():
                add(n.split()[0])  # "a.b as c" imports a.b
    for dots, base, names in _FROM.findall(source):
        if dots:
            pkg = module.split(".") if is_pkg else module.split(".")[:-1]
            pkg = pkg[: len(pkg) - (len(dots) - 1)]
            base = ".".join(pkg + ([base] if base else []))
        add(base)
        for n in _WORD.findall(names):
            add(f"{base}.{n}")
    for m in _MODULE_STR.findall(source):
        add(m)
    return found


def _units(tree: ast.Module, source: str, is_pkg: bool):
    """Top-level named units (defs, classes, constants) and the module-level
    text that runs on import, without the docstring."""
    lines = source.splitlines(keepends=True)
    units, loose = [], []
    for node in tree.body:
        decorators = getattr(node, "decorator_list", None)
        start = decorators[0].lineno if decorators else node.lineno
        text = "".join(lines[start - 1: node.end_lineno])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            units.append((node.name, True, text, node.end_lineno - node.lineno + 1))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if names and len(names) == len(targets):
                for n in names:
                    units.append((n, False, text, 0))
            else:
                loose.append(text)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            if is_pkg:  # a package's re-exports are its published names
                loose.append(text)
        elif not (node is tree.body[0] and ast.get_docstring(tree) is not None):
            loose.append(text)
    return units, loose


@functools.lru_cache(maxsize=None)
def _package():
    """Every package module -> (source, is_pkg, tree), parsed once."""
    out = {}
    for m, p in _module_files().items():
        src = _read(p)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", SyntaxWarning)  # escapes in old docstrings
            out[m] = (src, p.endswith("__init__.py"), ast.parse(src))
    return out


def scan(allowed=ALLOWED):
    """(unreached modules, unreachable defs) as {module: lines} and
    {(module, def): lines}. The `allowed` defs count as reached, so the
    helpers an oracle calls stay too."""
    package = _package()

    root_text = []
    frontier = set()
    for path in _root_files():
        src = _read(path)
        root_text.append(src)
        frontier |= _imports(src, None, False, package)
    frontier.add(TWINS)
    reached = set()
    while frontier:
        m = frontier.pop()
        if m in reached:
            continue
        reached.add(m)
        src, is_pkg, _tree = package[m]
        frontier |= _imports(src, m, is_pkg, package) - reached

    units = []  # (module, name, is_def, words, lines)
    live_words = set(_WORD.findall("\n".join(root_text)))
    for m in sorted(reached):
        src, is_pkg, tree = package[m]
        us, loose = _units(tree, src, is_pkg)
        for text in loose:
            live_words |= set(_WORD.findall(text))
        for name, is_def, text, n in us:
            words = set(_WORD.findall(text))
            if (m == TWINS and is_def) or (m, name) in allowed or name.startswith("__"):
                live_words |= words
            else:
                units.append((m, name, is_def, words, n))

    by_name = {}
    for i, u in enumerate(units):
        by_name.setdefault(u[1], []).append(i)
    live = [False] * len(units)
    todo = [(None, w) for w in live_words]  # (unit the word came from, word)
    while todo:
        origin, word = todo.pop()
        for i in by_name.get(word, ()):
            # a unit's own text never keeps it alive
            if live[i] or (origin is not None and units[origin][:2] == units[i][:2]):
                continue
            live[i] = True
            todo += [(i, w) for w in units[i][3]]

    dead_modules = {
        m: len(src.splitlines()) for m, (src, _p, _t) in package.items() if m not in reached
    }
    dead_defs = {
        (m, name): n
        for i, (m, name, is_def, _w, n) in enumerate(units)
        if is_def and not live[i]
    }
    for m in dead_modules:
        src, is_pkg, tree = package[m]
        for name, is_def, _t, n in _units(tree, src, is_pkg)[0]:
            if is_def:
                dead_defs[(m, name)] = n
    return dead_modules, dead_defs


def _allowed(module: str, name: str) -> bool:
    return (module, name) in ALLOWED or (module, None) in ALLOWED


def test_every_package_def_is_reached_from_the_surface():
    _mods, dead = scan()
    unexplained = sorted(k for k in dead if not _allowed(*k))
    assert not unexplained, (
        "top-level defs no surface entry reaches; delete them, or add them to "
        f"ALLOWED with the test that uses them as its oracle: {unexplained}"
    )


def test_allowlist_names_only_unreached_defs():
    # an entry whose def is now reached (or gone) is stale
    mods, dead = scan(allowed={})
    stale = sorted(
        k for k in ALLOWED
        if (k[1] is None and k[0] not in mods) or (k[1] is not None and k not in dead)
    )
    assert not stale, f"ALLOWED entries that are reached or no longer exist: {stale}"


if __name__ == "__main__":
    mods, dead = scan()
    for m, n in sorted(mods.items()):
        print(f"MODULE {m} {n}")
    for (m, name), n in sorted(dead.items()):
        flag = "allowed" if _allowed(m, name) else ""
        print(f"DEF {m}.{name} {n} {flag}")
    print("total def lines", sum(dead.values()), "module lines", sum(mods.values()))
