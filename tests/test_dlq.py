"""Quarantine/DLQ sink: split invariants + resumable write contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.dlq import (
    FIXTURE_DLQ_RULES,
    fixture_rules,
    split_quarantine,
)


def test_split_partitions_the_frame(routed_t1):
    accepted, bad = split_quarantine(routed_t1, fixture_rules())
    n, na, nb = routed_t1.count(), accepted.count(), bad.count()
    assert na + nb == n and nb > 0
    assert accepted.columns == routed_t1.columns  # original schema kept
    assert "error_reason" in bad.columns
    assert bad.filter(F.col("error_reason").isNull()).count() == 0
    # first-match-wins: every raw row is 'unparsed', never the later rule
    assert (
        bad.filter(
            (F.col("pattern_id") == "raw") & (F.col("error_reason") != "unparsed")
        ).count()
        == 0
    )


def test_reasons_are_exhaustive_and_ordered(routed_t1):
    _, bad = split_quarantine(routed_t1, fixture_rules())
    reasons = {r.error_reason for r in bad.select("error_reason").distinct().collect()}
    assert reasons <= {"unparsed", "missing_tool_status"}
    # rule 2 rows really do lack a status and carry a tool
    m = bad.filter(F.col("error_reason") == "missing_tool_status")
    assert m.filter((F.col("tool") == "none") | F.col("status").isNotNull()).count() == 0


def test_write_with_dlq_is_resumable(spark, routed_t1, tmp_path):
    """The spec's dlq section is the DLQ: its quarantine route moves bad
    rows, the move sinks plus quarantine partition the input, and a rerun
    through the resumable-sink contract changes nothing."""
    from opentelemetry_collector_contrib_spark.operators.route import sink_frames
    from opentelemetry_collector_contrib_spark.plans.config import (
        build_pipeline,
        route_table_from_spec,
    )
    from opentelemetry_collector_contrib_spark.plans.lineage import write_sinks_resumable
    from opentelemetry_collector_contrib_spark.plans.pipeline import fixture_spec

    spec = {**fixture_spec("sf0.001"), "dlq": {"rules": FIXTURE_DLQ_RULES}}
    routed = build_pipeline(spark, spec).persist()
    try:
        sinks = sink_frames(routed, route_table_from_spec(spec))
        base = str(tmp_path / "dlq_out")
        paths = write_sinks_resumable(routed, sinks, base)
        assert set(paths) == {"quarantine", "errors", "tool_events", "general", "human_turns"}
        first = {k: spark.read.parquet(p).count() for k, p in paths.items()}
        moves = ("quarantine", "errors", "tool_events", "general")
        assert sum(first[k] for k in moves) == routed_t1.count()
        _, bad = split_quarantine(routed_t1, fixture_rules())
        assert first["quarantine"] == bad.count()
        # rerun: manifest marks every sink committed; counts unchanged
        paths2 = write_sinks_resumable(routed, sinks, base)
        second = {k: spark.read.parquet(p).count() for k, p in paths2.items()}
        assert second == first
    finally:
        routed.unpersist()


# --- exporterhelper retry/queue analogue (round 4) ---------------------------


def test_resumable_sinks_retry_then_resume_on_exhaustion(spark, tmp_path):
    """write_sinks_resumable retries each sink with the exporterhelper
    backoff; exhaustion leaves the sink uncommitted so the NEXT run
    resumes exactly there — the manifest is the persistent queue."""
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.plans.lineage import (
        write_sinks_resumable,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sinks = {"s_ok": df, "s_flaky": df}
    calls = {"n": 0}
    slept = []

    def flaky_writer(frame, path):
        if path.endswith("s_flaky"):
            calls["n"] += 1
            if calls["n"] <= 3:  # fails through max_retries=2 exhaustion
                raise IOError("sink down")
        frame.write.mode("overwrite").parquet(path)

    base = str(tmp_path / "out")
    with _pytest.raises(IOError):
        write_sinks_resumable(
            df, sinks, base, max_retries=2, sleep=slept.append, writer=flaky_writer
        )
    assert slept == [5.0, 7.5]  # deterministic schedule before exhaustion
    # second run: committed sink skipped, flaky sink retried and now succeeds
    res = write_sinks_resumable(
        df, sinks, base, max_retries=2, sleep=slept.append, writer=flaky_writer
    )
    assert set(res) == {"s_ok", "s_flaky"}
    assert spark.read.parquet(res["s_flaky"]).count() == 2

