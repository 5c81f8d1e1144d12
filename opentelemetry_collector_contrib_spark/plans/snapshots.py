"""Iceberg-style snapshot log for a sink table: append-only data files +
an atomically-replaced JSON metadata file standing in for Iceberg table
metadata (in production this IS an Iceberg catalog commit; the interface
and semantics below follow the public Iceberg spec's snapshot model).

Semantics implemented (and tested):
  - every write is a COMMIT that produces a new immutable snapshot
    (snapshot_id, parent_id, sequence, operation, file list, summary);
    data files are never rewritten — an `overwrite` commit only changes
    which files the new snapshot references.
  - snapshot isolation: readers resolve a snapshot FIRST, then read
    exactly its file list; a concurrent commit can't tear a read.
  - time travel: `read(spark, as_of=snapshot_id)` reads any historical
    snapshot while its files remain (no physical delete here — expiry
    would be a separate maintenance op, as in Iceberg).
  - rollback: `rollback(snapshot_id)` makes a PRIOR snapshot current by
    appending a new `rollback` snapshot referencing its files (history is
    never mutated — same as Iceberg's rollback-as-new-snapshot).
  - optimistic concurrency: commit verifies the current sequence it built
    against is still current at publish time (compare-and-swap via atomic
    rename + re-read), raising CommitConflict for the loser.

This deepens plans/lineage.py (the per-partition resume manifest): lineage
answers "which sink cells are durably written" for idempotent reruns;
this answers "what did the table look like at commit X".
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed between snapshot resolution and publish."""


class SnapshotStore:
    def __init__(self, table_path: str):
        self.table_path = table_path
        self.meta_path = os.path.join(table_path, "_snapshots.json")

    # --- metadata I/O ------------------------------------------------------
    def _load(self) -> list[dict]:
        if not os.path.exists(self.meta_path):
            return []
        with open(self.meta_path) as f:
            return json.load(f)

    # a writer that died inside the commit critical section leaves the
    # lock file behind; locks older than this are reclaimable orphans
    _ORPHAN_LOCK_AGE_S = 60.0

    def _publish(self, snapshots: list[dict], expected_seq: int) -> None:
        """True compare-and-swap: the sequence check runs INSIDE an
        exclusive commit lock (O_CREAT|O_EXCL is the atomic primitive), so
        two racing publishers — append vs append, or append vs
        overwrite — can never both pass the check and
        silently clobber each other (the previous bare load/check/replace
        was check-then-act). The writer that finds the lock held raises
        CommitConflict immediately (optimistic model: the caller rebuilds
        and retries). A lock whose holder died mid-commit is reclaimed
        after a grace period so one crash can't wedge the table."""
        os.makedirs(self.table_path, exist_ok=True)
        lock = os.path.join(self.table_path, "_commit.lock")
        for attempt in (0, 1):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    continue  # lock vanished between open and stat: retry
                if attempt == 0 and age > self._ORPHAN_LOCK_AGE_S:
                    try:
                        os.remove(lock)  # reclaim the orphan, then retry
                    except FileNotFoundError:
                        pass
                    continue
                raise CommitConflict(
                    "another writer holds the commit lock; retry the commit"
                ) from None
        try:
            current = self._load()
            if (current[-1]["sequence"] if current else 0) != expected_seq:
                raise CommitConflict(
                    f"table advanced past sequence {expected_seq}; retry the commit"
                )
            tmp = self.meta_path + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump(snapshots, f)
            os.replace(tmp, self.meta_path)
        finally:
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass

    # --- snapshot resolution ----------------------------------------------
    def snapshots(self) -> list[dict]:
        return self._load()

    def current(self) -> dict | None:
        snaps = self._load()
        return snaps[-1] if snaps else None

    def snapshot(self, snapshot_id: str) -> dict:
        for s in self._load():
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"unknown snapshot {snapshot_id!r}")

    # --- commits -----------------------------------------------------------
    def commit_files(
        self,
        files: list[str],
        operation: str,
        summary: dict | None = None,
        stats: dict[str, dict] | None = None,
        schema_json: str | None = None,
    ) -> str:
        snaps = self._load()
        parent = snaps[-1] if snaps else None
        seq = (parent["sequence"] if parent else 0) + 1
        # schema rides on the snapshot (Iceberg: schema lives in table
        # metadata, never in data-file footers); parent's carries forward
        # when the commit doesn't declare one
        if schema_json is None and parent is not None:
            schema_json = parent.get("schema")
        base = []
        if operation == "append" and parent is not None:
            base = parent["files"]
        all_files = sorted(base + files)
        all_files_set = set(all_files)
        # per-file column bounds ride on the snapshot like Iceberg manifest
        # entries: parent stats carry forward for files still referenced,
        # new-file stats merge in, dropped files' stats fall away
        merged_stats = {
            **(parent.get("stats", {}) if parent else {}),
            **(stats or {}),
        }
        snap = {
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": parent["snapshot_id"] if parent else None,
            "sequence": seq,
            "operation": operation,
            "files": all_files,
            "ts": time.time(),
            "summary": summary or {},
            "stats": {f: s for f, s in merged_stats.items() if f in all_files_set},
        }
        if schema_json is not None:
            snap["schema"] = schema_json
        self._publish(snaps + [snap], expected_seq=seq - 1)
        return snap["snapshot_id"]

    def rollback(self, snapshot_id: str) -> str:
        target = self.snapshot(snapshot_id)
        snaps = self._load()
        seq = snaps[-1]["sequence"] + 1
        snap = {
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": snaps[-1]["snapshot_id"],
            "sequence": seq,
            "operation": "rollback",
            "files": target["files"],
            "ts": time.time(),
            "summary": {"rolled_back_to": snapshot_id},
            "stats": target.get("stats", {}),
        }
        if target.get("schema") is not None:
            snap["schema"] = target["schema"]
        self._publish(snaps + [snap], expected_seq=seq - 1)
        return snap["snapshot_id"]


def _drop_commit_dir(commit_dir: str) -> None:
    """Remove a commit directory whose publish lost the CAS race. The files
    are referenced by no snapshot (the commit never happened), so deleting
    them here is what keeps retried commits from stranding a table copy on
    disk — Iceberg's writers do the same cleanup when a commit fails."""
    import shutil

    shutil.rmtree(commit_dir, ignore_errors=True)


def collect_file_stats(files: list[str], cols: list[str]) -> dict[str, dict]:
    """Per-file [min, max] bounds for `cols`, read from parquet FOOTERS only
    (row-group statistics — no data pages touched). This is the Iceberg
    manifest-entry `lower_bounds`/`upper_bounds` analogue that makes
    file-level scan pruning possible. Columns without usable stats in a
    file (missing, all-null, or a non-JSON-serializable type) are simply
    absent for that file — pruning then keeps the file (safe default)."""
    import datetime

    import pyarrow.parquet as pq

    def _plain(v):
        if isinstance(v, bool | int | float | str):
            return v
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, datetime.datetime | datetime.date):
            return v.isoformat()
        return None

    out: dict[str, dict] = {}
    for f in files:
        meta = pq.ParquetFile(f).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        fstats: dict[str, list] = {}
        for col in cols:
            if col not in idx:
                continue
            lo = hi = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = _plain(st.min), _plain(st.max)
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok and lo is not None:
                fstats[col] = [lo, hi]
        if fstats:
            out[f] = fstats
    return out


def _evolved_schema(cur_json: str, new_json: str, evolve: bool) -> str:
    """Iceberg-style schema check at commit time: common columns must keep
    identical types (no silent coercion, ever); column ADDS are accepted
    only under `evolve` and produce the merged table schema (old field
    order, new fields appended). Anything else is a schema-enforcement
    error — the writer must conform, not the table."""
    cur, new = json.loads(cur_json), json.loads(new_json)
    cur_fields = {f["name"]: f["type"] for f in cur["fields"]}
    new_fields = {f["name"]: f["type"] for f in new["fields"]}
    for name in cur_fields.keys() & new_fields.keys():
        if cur_fields[name] != new_fields[name]:
            raise ValueError(
                f"schema evolution cannot change column type: {name!r} "
                f"{cur_fields[name]!r} -> {new_fields[name]!r}"
            )
    added = [f for f in new["fields"] if f["name"] not in cur_fields]
    if set(new_fields) == set(cur_fields):
        return cur_json  # same columns (order-insensitive): table schema stands
    if not evolve:
        raise ValueError(
            "commit schema differs from table schema "
            f"(added={sorted(set(new_fields) - set(cur_fields))}, "
            f"missing={sorted(set(cur_fields) - set(new_fields))}); "
            "pass evolve_schema=True to add columns"
        )
    # adds (and writer-side omissions of existing columns — old columns
    # stay in the table schema and read as NULL from the new files)
    merged = dict(cur)
    merged["fields"] = list(cur["fields"]) + [dict(f, nullable=True) for f in added]
    return json.dumps(merged)


def write_snapshot(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    summary: dict | None = None,
    stats_cols: list[str] | None = None,
    evolve_schema: bool = False,
) -> str:
    """Commit `df` to the snapshot table. Data lands in a fresh immutable
    commit directory (never overwritten); `mode='append'` unions with the
    current snapshot's files, `mode='overwrite'` replaces the referenced
    set. `summary` entries ride on the snapshot (Iceberg summary props);
    `stats_cols` records per-file min/max bounds for those columns in the
    snapshot (footer-only scan) so `read_snapshot(..., where=)` can prune
    files. Returns the new snapshot id.

    Schema contract (Iceberg-faithful: schema is table METADATA, applied
    at read, never inferred from footers): a commit whose columns match
    the table schema commits as-is; extra columns require
    `evolve_schema=True` and widen the table schema (old files read the
    new columns as NULL); changing an existing column's type always
    raises. `mode='overwrite'` replaces the schema outright (the table is
    whatever the overwrite says it is)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    store = SnapshotStore(table_path)
    new_schema = df.schema.json()
    current = store.current()
    if mode == "append" and current is not None and current.get("schema"):
        new_schema = _evolved_schema(current["schema"], new_schema, evolve_schema)
    commit_dir = os.path.join(table_path, "data", f"commit-{uuid.uuid4().hex}")
    df.write.mode("error").parquet(commit_dir)
    files = sorted(
        os.path.join(commit_dir, f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet")
    )
    stats = collect_file_stats(files, stats_cols) if stats_cols else None
    try:
        return store.commit_files(
            files,
            operation=mode,
            summary={**(summary or {}), "added_files": len(files)},
            stats=stats,
            schema_json=new_schema,
        )
    except CommitConflict:
        _drop_commit_dir(commit_dir)
        raise


def prune_files(snap: dict, where: list[tuple] | None) -> list[str]:
    """Resolve a snapshot's file list under range predicates
    `[(col, lo, hi), ...]` (inclusive bounds; None = unbounded on that
    side). A file is pruned only when its recorded [min, max] for the
    column PROVABLY misses the range; files without stats for the column
    are kept — pruning is an optimization, never a correctness filter
    (the caller still applies the real row filter)."""
    files = snap["files"]
    if not where:
        return files
    stats = snap.get("stats", {})
    kept = []
    for f in files:
        fstats = stats.get(f, {})
        drop = False
        for col, lo, hi in where:
            b = fstats.get(col)
            if b is None:
                continue
            if (hi is not None and b[0] > hi) or (lo is not None and b[1] < lo):
                drop = True
                break
        if not drop:
            kept.append(f)
    return kept


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    as_of: str | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Read the table at a snapshot (default: current). The file list is
    resolved BEFORE the scan, so the read is isolated from concurrent
    commits (Iceberg's reader contract). `where=[(col, lo, hi), ...]`
    prunes files by the snapshot's recorded column bounds before Spark
    ever opens them — the metadata-level pruning Iceberg does with
    manifest bounds, which at 100 TB is the difference between planning
    over the touched partitions and footer-scanning the whole table. The
    rows of kept files are NOT filtered here (file granularity only);
    apply the row predicate downstream as usual."""
    store = SnapshotStore(table_path)
    snap = store.snapshot(as_of) if as_of else store.current()
    if snap is None or not snap["files"]:
        raise ValueError(f"snapshot table {table_path!r} is empty")
    reader = spark.read
    if snap.get("schema"):
        # the snapshot's schema governs the read (Iceberg metadata schema):
        # files missing an evolved column yield NULLs, and no footer
        # mergeSchema pass is ever needed — planning stays metadata-only
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(snap["schema"])))
    kept = prune_files(snap, where)
    if not kept:
        # all files pruned: preserve the schema with an empty scan of ONE
        # file (uniform-schema table) — footer-scanning the whole file list
        # here would cost exactly the planning work pruning exists to avoid
        return reader.parquet(snap["files"][0]).limit(0)
    return reader.parquet(*kept)

