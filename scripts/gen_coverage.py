"""Regenerate COVERAGE.md from a full check_parity sweep at HEAD.

Runs every queries() entry through the type-strict Spark↔DuckDB gate
(scripts/check_parity.py) and rewrites COVERAGE.md with the result table,
so the coverage matrix can never drift from the tree it claims to
describe. Usage:

    python scripts/gen_coverage.py              # full sweep (~10-20 min)
    python scripts/gen_coverage.py --from-log f # reuse a sweep log
"""

from __future__ import annotations

import io
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def run_sweep() -> str:
    # manifest filename follows the scale factor so an off-tier sweep can
    # never silently overwrite the sf0.01 driver-tier baseline
    sf = os.path.basename(
        os.path.normpath(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    )
    manifest = (
        os.path.join(ROOT, "coverage_hashes.json")
        if sf == "sf0.01"
        else os.path.join(ROOT, f"coverage_hashes_{sf.replace('.', '')}.json")
    )
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check_parity.py"),
         "--manifest", manifest],
        capture_output=True,
        text=True,
        timeout=7200,
    )
    return p.stdout + "\n" + p.stderr


def render(log: str, session_note: str) -> str:
    # Spark progress bars emit \r-terminated fragments that glue onto
    # result lines; normalize so the line anchors still match
    log = log.replace("\r", "\n")
    rows = []
    for m in re.finditer(r"^(OK|FAIL|SKIP) +(\S+?):? (.*)$", log, re.M):
        status, name, detail = m.groups()
        rows.append((name, status, detail.strip()))
    rows.sort()
    n_ok = sum(1 for _, s, _ in rows if s == "OK")
    n_fail = sum(1 for _, s, _ in rows if s == "FAIL")
    n_skip = sum(1 for _, s, _ in rows if s == "SKIP")
    out = io.StringIO()
    out.write("# COVERAGE — full local parity matrix (regenerated at HEAD)\n\n")
    out.write(
        "Every `queries()` registry entry run through the type-strict gate\n"
        "(`scripts/check_parity.py`, Spark at sf0.01 vs its DuckDB oracle:\n"
        "row count + column names + canonicalized types + order-insensitive\n"
        "full-precision value hash). The driver samples ~50 of these per round;\n"
        "this matrix is the known-green superset it samples from. Regenerate\n"
        "with `python scripts/gen_coverage.py` after registry changes.\n\n"
    )
    out.write(
        f"Result: **{n_ok}/{n_ok + n_fail} OK**, {n_fail} FAIL, {n_skip} "
        "rows-only (genuinely non-SQL-expressible: order-sensitive folds — "
        "the pytest gate covers those; see the query docstring).\n"
    )
    if session_note:
        out.write(f"\n{session_note}\n")
    out.write("\n| query | gate | detail |\n|---|---|---|\n")
    for name, status, detail in rows:
        out.write(f"| {name} | {status} | {detail} |\n")
    return out.getvalue()


def main() -> int:
    if "--from-log" in sys.argv:
        log = open(sys.argv[sys.argv.index("--from-log") + 1]).read()
    else:
        log = run_sweep()
    note = ""
    for i, a in enumerate(sys.argv):
        if a == "--note":
            note = sys.argv[i + 1]
    doc = render(log, note)
    import os as _os

    sf = _os.path.basename(
        _os.path.normpath(_os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    )
    n_fail = doc.count("| FAIL |")
    if sf == "sf0.01":
        with open(os.path.join(ROOT, "COVERAGE.md"), "w") as f:
            f.write(doc)
        print(f"COVERAGE.md written ({doc.count('| OK |')} OK, {n_fail} FAIL)")
    else:
        # COVERAGE.md documents the driver tier; an off-tier sweep keeps
        # its own manifest (written by check_parity above) and a side doc
        side = os.path.join(ROOT, f"COVERAGE_{sf.replace('.', '')}.md")
        with open(side, "w") as f:
            f.write(doc)
        print(f"{side} written ({doc.count('| OK |')} OK, {n_fail} FAIL) — "
              "COVERAGE.md untouched (off-tier sweep)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
