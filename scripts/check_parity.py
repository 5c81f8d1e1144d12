"""Local stand-in for the driver's correctness gate: run each queries()[name]
on Spark at sf0.01 and the matching oracle_sql()[name] on DuckDB; compare
row count, column names, output TYPES, and an order-insensitive value hash.

Type strictness: the round-1 driver hash proved sensitive to the declared
output type (DuckDB HUGEINT vs Spark BIGINT, sum(decimal) width divergence)
even when every value matched. Both engines' types are canonicalized and
compared per column; floats hash at full precision (repr), not %.6g."""

from __future__ import annotations

import hashlib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

_DUCK_TYPE_MAP = {
    "VARCHAR": "string",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "BIGINT": "bigint",
    "HUGEINT": "hugeint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "DATE": "date",
    "BLOB": "binary",
    "UBIGINT": "ubigint",
}


def canon_type(t: str) -> str:
    """Canonicalize a DuckDB or Spark type string to one lattice."""
    t = str(t).strip()
    m = re.fullmatch(r"(?:DECIMAL|decimal)\((\d+),(\d+)\)", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if t.endswith("[]"):  # DuckDB array
        return f"array<{canon_type(t[:-2])}>"
    return _DUCK_TYPE_MAP.get(t, t.lower())


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _families() -> dict[str, list[str]]:
    """Registry-module → query names (the driver-coverage strata: a driver
    round's random sample can land entirely in one family, so the
    stratified modes below give every family a fresh local run)."""
    from opentelemetry_collector_contrib_spark.registry import (
        datapipe,
        profiles_reg,
        sampling_reg,
        telemetry,
    )

    return {
        "datapipe": list(datapipe.QUERIES),
        "profiles": list(profiles_reg.QUERIES),
        "sampling": list(sampling_reg.QUERIES),
        "telemetry": list(telemetry.QUERIES),
    }


def parse_args(argv: list[str] | None) -> tuple[list[str] | None, str]:
    """Supports: explicit names; --family NAME (module name or name
    substring); --sample N [--seed S] (N per family, stratified);
    combinable (--family telemetry --sample 10)."""
    import random

    argv = list(argv or [])
    family = sample = seed = None
    names: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--family":
            family, i = argv[i + 1], i + 2
        elif a == "--sample":
            sample, i = int(argv[i + 1]), i + 2
        elif a == "--seed":
            seed, i = int(argv[i + 1]), i + 2
        else:
            names.append(a)
            i += 1
    label = ""
    if family is not None or sample is not None:
        fams = _families()
        if family is not None:
            if family in fams:
                pool = {family: fams[family]}
            else:
                pool = {
                    f: [n for n in ns if family in n] for f, ns in fams.items()
                }
                pool = {f: ns for f, ns in pool.items() if ns}
                if not pool:
                    raise SystemExit(f"--family {family!r} matches no queries")
        else:
            pool = fams
        rng = random.Random(seed if seed is not None else 0xC0FFEE)
        for f in sorted(pool):
            ns = sorted(pool[f])
            picked = ns if sample is None else rng.sample(ns, min(sample, len(ns)))
            names.extend(picked)
        label = f" [family={family or 'ALL'} sample={sample or 'all'}]"
    return (names or None), label


def main(names: list[str] | None = None, manifest: str | None = None) -> int:
    import __spark_entry__ as entrymod
    from opentelemetry_collector_contrib_spark.session import get_spark

    spark = get_spark("parity-check", master="local[8]", shuffle_partitions=8)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    # Transcript oracles tier off SPARK_GRAFT_SF_DIR exactly like the Spark
    # side (registry/transcript_sql.active_transcripts_path), so every scale
    # factor is parity-meaningful — the round-4 t2 pin and its spurious
    # sf0.001 FAILs are gone.
    # mirror the driver: testdata tables pre-registered as views
    for tbl in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet')")
    failures = 0
    man: dict[str, dict] = {}
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {f.name: canon_type(f.dataType.simpleString()) for f in sdf.schema.fields}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            man[name] = {"status": "FAIL", "error": f"spark {type(e).__name__}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(srows)} rows)")
            man[name] = {
                "status": "SKIP", "rows": len(srows),
                "spark_hash": table_hash(srows, scols),
            }
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = {c: canon_type(str(t)) for c, t in zip(rel.columns, rel.types)}
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            man[name] = {"status": "FAIL", "error": "duckdb"}
            failures += 1
            continue
        ok_count = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        type_diffs = {
            c: f"{stypes[c]}!={otypes[c]}" for c in stypes if c in otypes and stypes[c] != otypes[c]
        }
        ok_types = not type_diffs
        sh = table_hash(srows, scols)
        oh = table_hash(orows, ocols)
        ok_hash = sh == oh
        status = "OK  " if (ok_count and ok_cols and ok_types and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        man[name] = {
            "status": status.strip(), "rows": len(srows),
            "spark_hash": sh, "oracle_hash": oh,
        }
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)}"
            f" cols={'=' if ok_cols else sorted(set(scols)^set(ocols))}"
            f" types={'=' if ok_types else type_diffs}"
            f" hash {'=' if ok_hash else f'{sh} vs {oh}'}"
        )
    spark.stop()
    if manifest:
        import json as _json
        import subprocess as _sp

        head = _sp.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip()
        with open(manifest, "w") as fh:
            _json.dump(
                {"head": head, "sf_dir": sf_dir, "queries": dict(sorted(man.items()))},
                fh, indent=1,
            )
        print(f"manifest: {manifest} ({len(man)} queries @ {head[:10]})")
    return failures


if __name__ == "__main__":
    _argv = sys.argv[1:]
    _manifest = None
    if "--manifest" in _argv:
        i = _argv.index("--manifest")
        if i + 1 >= len(_argv):
            raise SystemExit("--manifest requires a path argument")
        _manifest = _argv[i + 1]
        _argv = _argv[:i] + _argv[i + 2:]
    _names, _label = parse_args(_argv)
    if _label:
        print(f"parity{_label}: {len(_names or [])} queries", flush=True)
    sys.exit(1 if main(_names, manifest=_manifest) else 0)
