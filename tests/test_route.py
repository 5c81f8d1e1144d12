"""Route-table tests mirroring connector/routingconnector/logs_test.go:
first-match-move partitions the stream; copy routes create supersets;
leftovers land in default."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.route import (
    FIXTURE_ROUTES,
    Route,
    RouteTable,
    apply_routes,
    sink_frames,
)


def test_move_routes_partition(routed_t1):
    """Every row lands in exactly one move-sink (FIXTURES.md §4 invariant)."""
    total = routed_t1.count()
    by_route = {r["route_id"]: r["n"] for r in routed_t1.groupBy("route_id").agg(F.count("*").alias("n")).collect()}
    assert sum(by_route.values()) == total
    assert set(by_route) <= {"errors", "tool_events", "general"}


def test_first_match_wins(spark):
    """A row matching routes 1 and 2 must take route 1 (logs.go:66 break)."""
    df = spark.createDataFrame(
        [("err", "search", "assistant")], "status string, tool string, role string"
    )
    table = RouteTable(
        routes=[
            Route("errors", "status = 'err'"),
            Route("tool_events", "tool <> 'none' AND role = 'assistant'"),
        ]
    )
    assert apply_routes(df, table).collect()[0]["route_id"] == "errors"


def test_copy_route_superset(routed_t1):
    """Copy-route rows also exist in exactly one move sink (copy ≠ move)."""
    human = routed_t1.filter(F.col("copy_human_turns"))
    n_human = human.count()
    assert n_human > 0
    # all copied rows still carry a move route_id
    assert human.filter(F.col("route_id").isNull()).count() == 0


def test_sink_frames_counts(routed_t1):
    sinks = sink_frames(routed_t1, FIXTURE_ROUTES)
    assert set(sinks) == {"errors", "tool_events", "general", "human_turns"}
    total = routed_t1.count()
    move_total = sum(sinks[s].count() for s in ["errors", "tool_events", "general"])
    assert move_total == total


def test_errors_route_condition(routed_t1):
    errs = routed_t1.filter(F.col("route_id") == "errors")
    assert errs.filter(F.col("status") != "err").count() == 0
    # and no err row leaked elsewhere
    assert routed_t1.filter((F.col("status") == "err") & (F.col("route_id") != "errors")).count() == 0

