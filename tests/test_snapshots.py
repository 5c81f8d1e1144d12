"""Iceberg-contract snapshot store (plans/snapshots.py): commit/append/
overwrite lineage, time-travel reads, rollback-as-new-snapshot, and the
optimistic-concurrency conflict check."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.snapshots import (
    CommitConflict,
    SnapshotStore,
    read_snapshot,
    write_snapshot,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"))


def test_append_overwrite_and_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    s1 = write_snapshot(_df(spark, 0, 10), tbl, mode="append")
    s2 = write_snapshot(_df(spark, 10, 15), tbl, mode="append")
    s3 = write_snapshot(_df(spark, 100, 103), tbl, mode="overwrite")

    assert read_snapshot(spark, tbl).count() == 3                 # current = overwrite
    assert read_snapshot(spark, tbl, as_of=s1).count() == 10      # time travel
    assert read_snapshot(spark, tbl, as_of=s2).count() == 15      # append unioned
    # overwrite never rewrote old data files — s1 still fully readable
    assert sorted(r["id"] for r in read_snapshot(spark, tbl, as_of=s1).collect()) == list(range(10))

    store = SnapshotStore(tbl)
    snaps = store.snapshots()
    assert [s["operation"] for s in snaps] == ["append", "append", "overwrite"]
    assert [s["sequence"] for s in snaps] == [1, 2, 3]
    assert snaps[1]["parent_id"] == snaps[0]["snapshot_id"]
    assert s3 == snaps[-1]["snapshot_id"]


def test_rollback_is_a_new_snapshot(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    s1 = write_snapshot(_df(spark, 0, 5), tbl)
    write_snapshot(_df(spark, 0, 99), tbl, mode="overwrite")
    store = SnapshotStore(tbl)
    rb = store.rollback(s1)

    assert read_snapshot(spark, tbl).count() == 5                  # current is restored
    snaps = store.snapshots()
    assert len(snaps) == 3                                         # history never mutated
    assert snaps[-1]["snapshot_id"] == rb
    assert snaps[-1]["operation"] == "rollback"
    assert snaps[-1]["summary"]["rolled_back_to"] == s1


def test_commit_conflict_detected(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 3), tbl)
    store = SnapshotStore(tbl)
    # a commit built against sequence 0 must lose once sequence 1 exists
    with pytest.raises(CommitConflict):
        store._publish([{"sequence": 1}], expected_seq=0)


def test_reader_isolated_from_later_commits(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 4), tbl)
    df = read_snapshot(spark, tbl)          # resolves the file list NOW
    write_snapshot(_df(spark, 0, 100), tbl, mode="overwrite")
    assert df.count() == 4                  # unaffected by the overwrite


def test_publish_cas_lock_blocks_racing_writer(spark, tmp_path):
    """The sequence check runs INSIDE the exclusive commit lock: a second
    publisher conflicts even in the window before the lock holder's
    os.replace lands (the pure check-then-act would let both through and
    silently drop one commit). A lock whose holder died (older than the
    grace period) is reclaimed and the commit proceeds; the lock is
    released afterwards."""
    import os

    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 3), tbl)
    store = SnapshotStore(tbl)
    snaps = store._load()
    # simulate a racing writer inside the critical section: fresh lock,
    # metadata still at sequence 1
    lock = os.path.join(tbl, "_commit.lock")
    open(lock, "w").close()
    with pytest.raises(CommitConflict, match="commit lock"):
        store._publish(snaps + [{"sequence": 2}], expected_seq=1)
    # an ORPHAN lock (mtime older than the grace period) is reclaimed
    old = __import__("time").time() - 120
    os.utime(lock, (old, old))
    store._publish(snaps + [dict(snaps[-1], sequence=2, snapshot_id="x2")], expected_seq=1)
    assert store.current()["sequence"] == 2
    assert not os.path.exists(lock)  # released after publish


# ---------------------------------------------------------------------------
# file-level column stats + scan pruning
# ---------------------------------------------------------------------------


def _df2(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id").cast("string")).alias("val")
    )


def test_stats_recorded_and_reads_prune_files(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.snapshots import prune_files

    tbl = str(tmp_path / "tbl")
    # 4 commits with disjoint id ranges, one file each, id bounds tracked
    for lo in (0, 100, 200, 300):
        write_snapshot(
            _df2(spark, lo, lo + 100).coalesce(1), tbl, stats_cols=["id"]
        )
    snap = SnapshotStore(tbl).current()
    assert len(snap["files"]) == 4
    # every file carries [min, max] for id, and bounds are correct
    bounds = sorted(snap["stats"][f]["id"] for f in snap["files"])
    assert bounds == [[0, 99], [100, 199], [200, 299], [300, 399]]
    # range predicate prunes to exactly the overlapping files
    assert len(prune_files(snap, [("id", 150, 250)])) == 2
    assert len(prune_files(snap, [("id", None, 99)])) == 1
    assert len(prune_files(snap, [("id", 400, None)])) == 0
    # untracked column prunes nothing
    assert len(prune_files(snap, [("val", "a", "b")])) == 4
    # pruned read returns exactly the full-filter answer
    got = read_snapshot(spark, tbl, where=[("id", 150, 250)])
    assert got.filter((F.col("id") >= 150) & (F.col("id") <= 250)).count() == 101
    assert got.count() == 200  # file granularity: two whole files
    # all-pruned read keeps the schema
    empty = read_snapshot(spark, tbl, where=[("id", 1000, 2000)])
    assert empty.count() == 0 and empty.columns == ["id", "val"]


def test_stats_survive_append_overwrite_and_compact(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df2(spark, 0, 100).coalesce(1), tbl, stats_cols=["id"])
    write_snapshot(_df2(spark, 100, 200).coalesce(1), tbl, stats_cols=["id"])
    snap = SnapshotStore(tbl).current()
    assert len(snap["stats"]) == 2  # parent file's stats carried forward
    assert set(snap["stats"]) == set(snap["files"])
    assert all("id" in s for s in snap["stats"].values())
    # overwrite drops prior files' stats
    write_snapshot(_df2(spark, 500, 600).coalesce(1), tbl, mode="overwrite", stats_cols=["id"])
    snap = SnapshotStore(tbl).current()
    assert set(snap["stats"]) == set(snap["files"]) and len(snap["files"]) == 1


def test_all_pruned_read_scans_single_file(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    for lo in (0, 100):
        write_snapshot(_df2(spark, lo, lo + 100).coalesce(1), tbl, stats_cols=["id"])
    empty = read_snapshot(spark, tbl, where=[("id", 1000, None)])
    assert empty.count() == 0 and empty.columns == ["id", "val"]
    assert len(empty.inputFiles()) <= 1  # one-file schema probe, not the table


def test_wire_to_snapshot_lakehouse_e2e(spark, tmp_path):
    """Capstone: OTLP-protobuf payload spool -> decode -> snapshot-table
    commits with per-file ts bounds -> stats-pruned read -> aggregate ->
    time travel. The full receiver -> lakehouse -> query lifecycle over the
    package's own machinery."""
    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        parse_otlp_pb_logs,
        synthesize_otlp_pb,
    )

    tbl = str(tmp_path / "lake")
    # two ingest batches with disjoint event_id ranges -> disjoint ts bounds
    for lo in (0, 40):
        src = spark.range(lo, lo + 40).select(
            F.col("id").alias("event_id"), F.lit("T").alias("event_type")
        )
        decoded = parse_otlp_pb_logs(synthesize_otlp_pb(src, cols={}), "payload")
        write_snapshot(decoded.coalesce(1), tbl, stats_cols=["ol_ts_us", "event_id"])
    snap = SnapshotStore(tbl).current()
    assert len(snap["files"]) == 2 and set(snap["stats"]) == set(snap["files"])

    # stats-pruned read: an event_id range inside batch 2 opens ONE file
    got = read_snapshot(spark, tbl, where=[("event_id", 50, 60)])
    assert len(got.inputFiles()) == 1
    assert got.filter((F.col("event_id") >= 50) & (F.col("event_id") <= 60)).count() == 22

    # aggregate over the snapshot (2 records per event: INFO + ERROR)
    agg = read_snapshot(spark, tbl).groupBy("ol_severity_text").count().collect()
    assert {r["ol_severity_text"]: r["count"] for r in agg} == {"INFO": 80, "ERROR": 80}

    # time travel: the first commit alone holds batch 1
    first = SnapshotStore(tbl).snapshots()[0]["snapshot_id"]
    assert read_snapshot(spark, tbl, as_of=first).count() == 80


# --- schema evolution (Iceberg metadata-schema contract) ----------------------


def test_schema_evolution_add_column(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.snapshots import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "evo")
    s1 = write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), t
    )
    # mismatched append without evolve -> schema enforcement error
    wide = spark.createDataFrame([(3, "c", 9.5)], "id int, v string, score double")
    with pytest.raises(ValueError, match="evolve_schema"):
        write_snapshot(wide, t)
    s2 = write_snapshot(wide, t, evolve_schema=True)

    cur = read_snapshot(spark, t)
    assert cur.columns == ["id", "v", "score"]
    rows = {r.id: r.score for r in cur.collect()}
    assert rows == {1: None, 2: None, 3: 9.5}  # old files NULL-fill
    # time travel: the old snapshot still reads with the OLD schema
    old = read_snapshot(spark, t, as_of=s1)
    assert old.columns == ["id", "v"] and old.count() == 2
    assert read_snapshot(spark, t, as_of=s2).count() == 3


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.snapshots import write_snapshot

    t = str(tmp_path / "evo_type")
    write_snapshot(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    bad = spark.createDataFrame([(2, 3.0)], "id int, v double")
    with pytest.raises(ValueError, match="cannot change column type"):
        write_snapshot(bad, t, evolve_schema=True)


def test_schema_evolution_survives_compaction_and_merge(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.snapshots import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "evo_maint")
    write_snapshot(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), t)
    write_snapshot(
        spark.createDataFrame([(3, "c", 9.5)], "id int, v string, score double"),
        t,
        evolve_schema=True,
    )
    # an OLD (pre-evolution) file reads under the table schema, not its own
    after = {r.id: (r.v, r.score) for r in read_snapshot(spark, t).collect()}
    assert after == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
