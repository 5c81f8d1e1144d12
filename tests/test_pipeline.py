"""End-to-end pipeline tests: stable ordering, enrich defaults, sink writes,
lineage resume — the golden-file / testbed correctness mirror (SURVEY.md §5)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.route import FIXTURE_ROUTES, sink_frames
from opentelemetry_collector_contrib_spark.plans.lineage import LineageManifest, write_sinks_resumable


def test_stable_order_matches_turn_idx(routed_t1):
    """row_number over (conv_id ORDER BY turn_idx, ts) must equal turn_idx+1 —
    turn_idx is dense per conv in the fixture, so this is a full determinism
    check of the ordering window over shuffled input."""
    bad = routed_t1.filter(F.col("turn_rn") != F.col("turn_idx") + 1).count()
    assert bad == 0


def test_enrich_defaults(routed_t1):
    """'calc' is missing from tool_dim → category 'Unknown', weight 0.0
    (lookupprocessor default_value)."""
    calc = routed_t1.filter(F.col("tool") == "calc")
    assert calc.count() > 0
    assert calc.filter(F.col("tool_category") != "Unknown").count() == 0
    assert calc.filter(F.col("tool_cost_weight") != 0.0).count() == 0
    known = routed_t1.filter(F.col("tool") == "search")
    assert known.filter(F.col("tool_category") != "retrieval").count() == 0


def test_per_turn_text_equality(spark, routed_t1, t1):
    """North-rule invariant: after the full pipeline, (conv_id, turn_idx) →
    text is byte-identical to the source table."""
    src = t1.select("conv_id", "turn_idx", F.col("text").alias("src_text"))
    joined = routed_t1.select("conv_id", "turn_idx", "text").join(src, ["conv_id", "turn_idx"])
    assert joined.filter(F.col("text") != F.col("src_text")).count() == 0
    assert joined.count() == t1.count()


def test_fixture_spec_matches_hand_built_chain(spark, routed_t1, t1, dims):
    """build_routed compiles fixture_spec through config.build_pipeline. The
    oracle is the hand-assembled chain it replaced: native parse, the two
    enrich lookups, the SQL-string route table, stable order."""
    from opentelemetry_collector_contrib_spark.operators.enrich import enrich_transcripts
    from opentelemetry_collector_contrib_spark.operators.order import stable_order
    from opentelemetry_collector_contrib_spark.operators.parse import parse_native
    from opentelemetry_collector_contrib_spark.operators.route import Route, RouteTable, apply_routes

    sql_routes = RouteTable(
        routes=[
            Route("errors", "status = 'err'", "move"),
            Route("tool_events", "tool <> 'none' AND role = 'assistant'", "move"),
            Route("human_turns", "role_group = 'human'", "copy"),
        ],
        default="general",
    )
    oracle = stable_order(apply_routes(enrich_transcripts(parse_native(t1), *dims), sql_routes))
    assert routed_t1.schema == oracle.schema
    assert routed_t1.count() == t1.count()
    assert routed_t1.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(routed_t1).count() == 0


def test_sink_writes_and_lineage_resume(spark, routed_t1, tmp_path):
    base = str(tmp_path / "sinks")
    # "spread" is written as several files, so the manifest holds
    # several cells for it
    sinks = {**sink_frames(routed_t1, FIXTURE_ROUTES), "spread": routed_t1.repartition(3)}
    paths = write_sinks_resumable(routed_t1, sinks, base)
    counts1 = {name: spark.read.parquet(p).count() for name, p in paths.items()}
    # total of move sinks == input rows
    total = routed_t1.count()
    assert counts1["errors"] + counts1["tool_events"] + counts1["general"] == total

    # manifest recorded all sinks
    m = LineageManifest(os.path.join(base, "_lineage.json"))
    for s in ["errors", "tool_events", "general", "human_turns", "spread"]:
        assert m.is_committed(s)

    # per-file cells equal a read-back count of each written file, in path order
    assert len(m.cells_for("spread")) > 1
    for name, p in paths.items():
        per_file = spark.read.parquet(p).groupBy(F.col("_metadata.file_path").alias("_f")).count().collect()
        oracle = [r["count"] for r in sorted(per_file, key=lambda r: r["_f"])]
        assert [c.row_count for c in m.cells_for(name)] == oracle, name

    # rerun: all sinks skipped (idempotent resume), data unchanged
    paths2 = write_sinks_resumable(routed_t1, sinks, base)
    counts2 = {name: spark.read.parquet(p).count() for name, p in paths2.items()}
    assert counts1 == counts2


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs = e.queries()
    oracles = e.oracle_sql()
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_metrics_recording(spark, routed_t1, tmp_path):
    """North-rule 'lineage + metrics': per-sink rows/timings recorded, resume
    decisions visible, JSON artifact written atomically."""
    import json
    import uuid

    from opentelemetry_collector_contrib_spark.plans.metrics import PipelineMetrics

    base = str(tmp_path / "m_sinks")
    m1 = PipelineMetrics(run_id=uuid.uuid4().hex)
    m1.input_rows = routed_t1.count()
    # an empty sink still commits, so the rerun resumes it too
    sinks = {**sink_frames(routed_t1, FIXTURE_ROUTES), "empty": routed_t1.filter(F.lit(False))}
    write_sinks_resumable(routed_t1, sinks, base, metrics=m1)
    d = m1.to_dict()
    assert d["sink_rows"]["errors"] + d["sink_rows"]["tool_events"] + d["sink_rows"]["general"] == m1.input_rows
    assert d["sink_rows"]["empty"] == 0
    assert all(v > 0 for k, v in m1.stages.items() if k.startswith("sink:"))
    assert d["resumed_sinks"] == []

    # rerun: everything resumes, counts reported from the manifest
    m2 = PipelineMetrics(run_id=uuid.uuid4().hex)
    write_sinks_resumable(routed_t1, sinks, base, metrics=m2)
    assert set(m2.to_dict()["resumed_sinks"]) == set(sinks)
    assert m2.sink_rows == m1.sink_rows

    path = m1.write(str(tmp_path / "out" / "_metrics.json"))
    assert json.load(open(path))["run_id"] == m1.run_id


def test_genai_normalize(spark, routed_t1):
    from opentelemetry_collector_contrib_spark.operators.transform import genai_normalize

    r = routed_t1.filter(F.col("pattern_id") == "json")
    out = genai_normalize(r)
    assert "gen_ai.request.model" in out.columns
    ops = {x["gen_ai.operation.name"] for x in out.select("`gen_ai.operation.name`").distinct().collect()}
    assert ops <= {"execute_tool", "chat", "invoke_agent"}


def test_failover_write_uses_first_healthy_level(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.sinks import failover_write, write_sink

    df = spark.range(5).withColumnRenamed("id", "v")

    # level 0 target is an existing plain FILE -> the parquet commit fails;
    # level 1 succeeds and the result records the failover.
    bad = tmp_path / "primary"
    bad.write_text("not a directory")
    good = tmp_path / "secondary"
    res = failover_write(df, [str(bad), str(good)])
    assert res["level"] == 1 and res["target"] == str(good)
    assert str(bad) in res["errors"]
    assert spark.read.parquet(str(good)).count() == 5

    # healthy primary: next batch goes straight back to level 0
    ok = tmp_path / "primary2"
    res2 = failover_write(df, [str(ok), str(good)], )
    assert res2["level"] == 0 and res2["errors"] == {}

    # all levels down -> loud failure listing every level's error
    bad2 = tmp_path / "also_bad"
    bad2.write_text("x")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="failover levels failed"):
        failover_write(df, [str(bad), str(bad2)])


def test_kafka_partitioner_algebra(spark):
    """kafkaexporter sticky_key partitioning (partitioner.go:24-33): the
    murmur2 hasher against Apache Kafka's own UtilsTest.testMurmur2
    vectors, the sarama-compat FNV-1a against the public FNV test vectors,
    and the Spark column operator over both."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.plans.sinks import (
        fnv1a32,
        kafka_partition_for,
        kafka_partitions,
        murmur2_kafka,
    )

    def signed(x):
        return x - (1 << 32) if x >= (1 << 31) else x

    # Apache Kafka UtilsTest.testMurmur2 vectors (the Java client's hash)
    assert signed(murmur2_kafka(b"21")) == -973932308
    assert signed(murmur2_kafka(b"foobar")) == -790332482
    assert signed(murmur2_kafka(b"a-little-bit-long-string")) == -985981536
    assert signed(murmur2_kafka(b"a-little-bit-longer-string")) == -1486304829
    assert (
        signed(murmur2_kafka(b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8")) == -58897971
    )
    # FNV-1a 32 public vectors (sarama-compat hasher, franz_client.go:468)
    assert fnv1a32(b"") == 2166136261
    assert fnv1a32(b"a") == 0xE40C292C
    assert fnv1a32(b"foobar") == 0xBF9CF968
    # Java default masks to positive before the modulo
    assert kafka_partition_for(b"foobar", 7) == ((-790332482) & 0x7FFFFFFF) % 7
    # operator: every partition in range, same key -> same partition
    df = spark.range(500).select(F.concat(F.lit("conv-"), F.col("id") % 40).alias("key"))
    for hasher in ("murmur2", "sarama_compat"):
        out = kafka_partitions(df, "key", 12, hasher)
        rows = out.collect()
        assert all(0 <= r["kafka_partition"] < 12 for r in rows)
        by_key = {}
        for r in rows:
            by_key.setdefault(r["key"], set()).add(r["kafka_partition"])
        assert all(len(v) == 1 for v in by_key.values())  # sticky


def test_backfill_planner_diffs_input_partitions(tmp_path):
    import os
    import time

    from opentelemetry_collector_contrib_spark.plans.lineage import (
        BackfillLedger,
        input_fingerprint,
        plan_backfill,
    )

    root = tmp_path / "in"
    for d in ("dt=2026-01-01", "dt=2026-01-02", "dt=2026-01-03"):
        p = root / d
        p.mkdir(parents=True)
        (p / "part-0.parquet").write_bytes(b"x" * 10)
        (p / "_SUCCESS").write_text("")  # marker files excluded from prints

    ledger = BackfillLedger(str(tmp_path / "ledger.json"))
    plan = plan_backfill(str(root), ledger, "dt=*")
    assert [e["partition"] for e in plan["todo"]] == [
        "dt=2026-01-01", "dt=2026-01-02", "dt=2026-01-03"
    ]
    assert plan["stale"] == plan["done"] == plan["orphan"] == []

    # process two partitions at their planned fingerprints
    for e in plan["todo"][:2]:
        ledger.mark_processed(e["partition"], e["fingerprint"])
    plan2 = plan_backfill(str(root), ledger, "dt=*")
    assert [e["partition"] for e in plan2["todo"]] == ["dt=2026-01-03"]
    assert len(plan2["done"]) == 2

    # late-arriving rewrite: change a file in a done partition -> stale
    f = root / "dt=2026-01-01" / "part-0.parquet"
    f.write_bytes(b"y" * 99)
    os.utime(f, (time.time() + 5, time.time() + 5))
    plan3 = plan_backfill(str(root), ledger, "dt=*")
    assert [e["partition"] for e in plan3["stale"]] == ["dt=2026-01-01"]

    # reprocess at the CURRENT print -> done again; ledger survives reload
    ledger2 = BackfillLedger(str(tmp_path / "ledger.json"))
    ledger2.mark_processed("dt=2026-01-01", plan3["stale"][0]["fingerprint"])
    plan4 = plan_backfill(str(root), ledger2, "dt=*")
    assert plan4["stale"] == [] and len(plan4["done"]) == 2

    # retention removed a partition the ledger knows -> orphan, surfaced
    import shutil

    shutil.rmtree(root / "dt=2026-01-02")
    plan5 = plan_backfill(str(root), ledger2, "dt=*")
    assert [e["partition"] for e in plan5["orphan"]] == ["dt=2026-01-02"]

    # marker files don't perturb the fingerprint
    (root / "dt=2026-01-01" / "_metadata").write_text("noise")
    assert input_fingerprint(str(root / "dt=2026-01-01")) == plan3["stale"][0]["fingerprint"]


def test_job_plan_backfill_cli(tmp_path):
    """job.py --plan-backfill is a metadata-only mode: prints the work
    list without ever starting a SparkSession."""
    import json
    import subprocess
    import sys

    root = tmp_path / "in"
    for d in ("dt=2026-02-01", "dt=2026-02-02"):
        (root / d).mkdir(parents=True)
        (root / d / "p.parquet").write_bytes(b"data")
    out = tmp_path / "out"

    def run(*extra):
        r = subprocess.run(
            [sys.executable, "job.py", "--input", "x", "--output", str(out),
             "--plan-backfill", str(root), *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=60,
        )
        assert r.returncode == 0, r.stderr
        return json.loads(r.stdout.strip().splitlines()[-1])

    plan = run()
    assert [e["partition"] for e in plan["todo"]] == ["dt=2026-02-01", "dt=2026-02-02"]
    plan2 = run("--mark-processed", "dt=2026-02-01")
    assert [e["partition"] for e in plan2["done"]] == ["dt=2026-02-01"]
    assert [e["partition"] for e in plan2["todo"]] == ["dt=2026-02-02"]


def test_kafka_partition_colocation_matches_assignment(spark, tmp_path):
    """The claim users rely on (round-4 verdict item): repartitioning on
    kafka_partitions() and writing one directory per partition yields key
    sets IDENTICAL to Kafka's own assignment for the same topic config —
    for both the Java-default murmur2 and the sarama FNV-1a hashers, over
    the UtilsTest vector keys plus a spread of conv-id-style keys."""
    from opentelemetry_collector_contrib_spark.plans.sinks import (
        kafka_partition_for,
        kafka_partitions,
    )

    n_parts = 8
    keys = [
        "21", "foobar", "a-little-bit-long-string",
        "a-little-bit-longer-string",
        "lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8",
    ] + [f"conv-{i:04d}" for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    for hasher in ("murmur2", "sarama_compat"):
        parts = kafka_partitions(df, "key", n_parts, hasher=hasher)
        out = str(tmp_path / f"kp_{hasher}")
        # co-location: group all rows of a kafka partition into one task,
        # then one file/dir per partition — the producer's broker layout
        parts.repartition(n_parts, F.col("kafka_partition")).write.partitionBy(
            "kafka_partition"
        ).parquet(out)
        back = spark.read.parquet(out)
        got = {
            r["kafka_partition"]: None
            for r in back.select("kafka_partition").distinct().collect()
        }
        assert set(got) <= set(range(n_parts))
        by_part = {
            p: {
                r["key"]
                for r in back.filter(F.col("kafka_partition") == p).collect()
            }
            for p in got
        }
        # Kafka's assignment, computed independently per key
        want: dict[int, set] = {}
        for k in keys:
            want.setdefault(
                kafka_partition_for(k.encode("utf-8"), n_parts, hasher), set()
            ).add(k)
        assert by_part == want, hasher
        # whole-partition co-location under repartition: every kafka
        # partition lives in exactly one spark task
        placement = (
            parts.repartition(n_parts, F.col("kafka_partition"))
            .select(F.spark_partition_id().alias("sp"), "kafka_partition")
            .distinct()
            .collect()
        )
        owners: dict[int, set] = {}
        for r in placement:
            owners.setdefault(r["kafka_partition"], set()).add(r["sp"])
        assert all(len(v) == 1 for v in owners.values()), owners
