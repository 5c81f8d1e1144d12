"""sqlqueryreceiver analogue: tracking value and logs row mapping."""

from __future__ import annotations

from opentelemetry_collector_contrib_spark.sources.sql_query import sql_query_logs


def _mk_table(spark, name, n=20):
    spark.createDataFrame(
        [(i, f"line {i}", "app" if i % 2 else "db") for i in range(n)],
        "log_id long, log_body string, source string",
    ).createOrReplaceTempView(name)


def test_logs_tracking_advances_to_last_row(spark):
    _mk_table(spark, "t_logs")
    sql = "SELECT * FROM t_logs WHERE log_id > :tracking ORDER BY log_id"
    out, tv = sql_query_logs(
        spark, sql, "log_body", ["source"], tracking_column="log_id", tracking_value="9"
    )
    rows = out.collect()
    assert [r["_tracking"] for r in rows] == list(range(10, 20))
    assert rows[0].body == "line 10" and rows[0].source == "db"
    assert tv == "19"
    # next poll with the advanced value reads nothing
    out2, tv2 = sql_query_logs(
        spark, sql, "log_body", ["source"], tracking_column="log_id", tracking_value=tv
    )
    assert out2.count() == 0 and tv2 is None

