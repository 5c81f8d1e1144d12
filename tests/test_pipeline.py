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
            capture_output=True, text=True, timeout=60,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert r.returncode == 0, r.stderr
        return json.loads(r.stdout.strip().splitlines()[-1])

    plan = run()
    assert [e["partition"] for e in plan["todo"]] == ["dt=2026-02-01", "dt=2026-02-02"]
    plan2 = run("--mark-processed", "dt=2026-02-01")
    assert [e["partition"] for e in plan2["done"]] == ["dt=2026-02-01"]
    assert [e["partition"] for e in plan2["todo"]] == ["dt=2026-02-02"]

