"""Module hygiene guard: every source file compiles cleanly, and no package
module imports a name it never uses. The scan is pure `ast`, with no Spark:

* Every `.py` file of the package, `job.py`, `bench.py` and `scripts/`
  compiles with warnings turned into errors, so an invalid escape in a
  docstring (a SyntaxWarning on every fresh import) fails here.
* In every package module other than an `__init__` (whose imports are
  re-exports), each top-level `import` binds a name that the module reads
  somewhere: as a name, as the root of an attribute, or in `__all__`.

Run it as a script to print what it finds:

    python tests/test_module_hygiene.py
"""

from __future__ import annotations

import ast
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opentelemetry_collector_contrib_spark"


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _sources() -> list[str]:
    return [
        *_py_files(PACKAGE),
        os.path.join(ROOT, "job.py"),
        os.path.join(ROOT, "bench.py"),
        *_py_files("scripts"),
    ]


def compile_warnings() -> list[str]:
    """`path: message` for every file that warns or fails to compile."""
    bad = []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            source = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(source, path, "exec", dont_inherit=True)
            except (SyntaxError, Warning) as e:
                bad.append(f"{os.path.relpath(path, ROOT)}: {e}")
    return bad


def _bound_names(node: ast.Import | ast.ImportFrom) -> list[str]:
    if isinstance(node, ast.Import):
        return [a.asname or a.name.split(".")[0] for a in node.names]
    return [a.asname or a.name for a in node.names if a.name != "*"]


def unused_imports() -> list[str]:
    """`path:line name` for every top-level import a module never reads."""
    bad = []
    for path in _py_files(PACKAGE):
        if os.path.basename(path) == "__init__.py":
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            # names listed in __all__ are exported, so they count as read
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                used |= {
                    e.value for e in ast.walk(node.value)
                    if isinstance(e, ast.Constant) and isinstance(e.value, str)
                }
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for name in _bound_names(node):
                    if name not in used:
                        bad.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    return bad


def test_sources_compile_without_warnings():
    assert compile_warnings() == []


def test_package_modules_use_their_imports():
    assert unused_imports() == []


if __name__ == "__main__":
    for line in compile_warnings() + unused_imports():
        print(line)
