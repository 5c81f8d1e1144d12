"""operators/spans.py unit semantics: slow-SQL gate, digest normalization,
counter-reset rebase."""

from pyspark.sql import functions as F


def test_slow_sql_filters(spark):
    from opentelemetry_collector_contrib_spark.operators.spans import slow_sql_logs

    df = spark.createDataFrame(
        [
            (1, "mysql", "SELECT 1", 600.0, "client"),
            (2, "mysql", "SELECT 1", 100.0, "client"),     # under threshold
            (3, "redis", "GET k", 900.0, "client"),        # system not allowed
            (4, "mysql", None, 900.0, "client"),           # no statement
            (5, "mysql", "SELECT 2", 900.0, "server"),     # not a client span
        ],
        "event_id bigint, db_system string, db_statement string, duration_ms double, span_kind string",
    )
    out = slow_sql_logs(df, threshold_ms=500.0, dims=["event_id"])
    assert [r["event_id"] for r in out.collect()] == [1]


def test_sql_digest_collapses_literals(spark):
    from opentelemetry_collector_contrib_spark.operators.spans import sql_digest

    df = spark.createDataFrame(
        [
            ("SELECT c FROM t42 WHERE id = 7 AND tag = 'x' AND k IN (1, 2, 3)", 10.0),
            ("SELECT c FROM t42 WHERE id = 99 AND tag = 'other' AND k IN (4, 5)", 30.0),
        ],
        "db_statement string, duration_ms double",
    )
    rows = sql_digest(df).collect()
    assert len(rows) == 1
    r = rows[0]
    # identifier t42 intact; every literal and the IN list collapsed
    assert r["digest"] == "SELECT c FROM t42 WHERE id = ? AND tag = ? AND k IN (?)"
    assert r["calls"] == 2 and r["total_ms"] == 40.0 and r["max_ms"] == 30.0


def test_counter_reset_adjust(spark):
    from opentelemetry_collector_contrib_spark.operators.spans import counter_reset_adjust

    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate([5.0, 8.0, 2.0, 4.0, 1.0, 9.0])],
        "series string, i bigint, value double",
    )
    out = counter_reset_adjust(df, ["series"], ["i"], "value")
    got = [r["adjusted"] for r in out.orderBy("i").collect()]
    # resets at 8->2 (carry 8) and 4->1 (carry +4 = 12)
    assert got == [5.0, 8.0, 10.0, 12.0, 13.0, 21.0]
    # monotone after rebase
    assert all(b >= a for a, b in zip(got, got[1:]))


def test_span_pruning_preserves_outliers(spark):
    from opentelemetry_collector_contrib_spark.operators.spans import span_pruning

    df = spark.createDataFrame(
        # group g1: 5 similar fast spans + 1 slow outlier; g2: only 1 span
        [("g1", i, 10.0 + i) for i in range(5)]
        + [("g1", 99, 500.0), ("g2", 7, 42.0)],
        "g string, event_id bigint, duration_ms double",
    )
    out = span_pruning(df, ["g"], "duration_ms", "event_id", min_spans=2).collect()
    summaries = [r for r in out if r["is_summary"]]
    kept = [r for r in out if not r["is_summary"]]
    assert len(summaries) == 1                       # g1 collapsed
    s = summaries[0]
    assert s["g"] == "g1" and s["span_count"] == 5   # outlier excluded from the summary
    assert s["min_ms"] == 10.0 and s["max_ms"] == 14.0 and s["sum_ms"] == 60.0
    kept_ids = {(r["g"], r["event_id"]) for r in kept}
    assert ("g1", 99) in kept_ids                    # outlier preserved individually
    assert ("g2", 7) in kept_ids                     # under min_spans → untouched
    assert len(kept) == 2

