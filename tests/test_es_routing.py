"""elasticsearchexporter data-stream router — precedence, scope routing,
sanitization, bodymap type gate (data_stream_router.go:56-262)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.es_routing import route_documents

_SCHEMA = (
    "id int, signal string, attrs map<string,string>, scope_attrs map<string,string>, "
    "res_attrs map<string,string>, scope_name string"
)


def _route(spark, rows, **kw):
    df = spark.createDataFrame(rows, _SCHEMA)
    return {r["id"]: r["es_index"] for r in route_documents(df, **kw).collect()}


def test_attribute_precedence_and_defaults(spark):
    out = _route(
        spark,
        [
            # record-level index attr wins verbatim — no sanitize, no suffix
            (0, "logs", {"elasticsearch.index": "RAW-Index"}, {}, {}, "s"),
            # record dataset beats resource dataset; namespace from scope
            (1, "logs", {"data_stream.dataset": "recds"}, {"data_stream.namespace": "SNS"},
             {"data_stream.dataset": "resds"}, "s"),
            # nothing set -> generic/default with .otel suffix
            (2, "metrics", {}, {}, {}, "s"),
        ],
        mode="otel",
    )
    assert out[0] == "RAW-Index"
    assert out[1] == "logs-recds.otel-sns"
    assert out[2] == "metrics-generic.otel-default"


def test_scope_routing_only_without_dataset_attr(spark):
    contrib = "github.com/open-telemetry/opentelemetry-collector-contrib"
    out = _route(
        spark,
        [
            (0, "logs", {}, {}, {}, "go.opentelemetry.io/collector/receiver/receiverhelper"),
            (1, "logs", {}, {"encoding.format": "aws.vpcflow"}, {}, f"{contrib}/receiver/filelogreceiver"),
            (2, "logs", {}, {}, {}, f"{contrib}/receiver/filelogreceiver/internal/adapter"),
            (3, "logs", {}, {}, {}, f"{contrib}/connector/countconnector"),
            # dataset attr present -> scope routing skipped
            (4, "logs", {"data_stream.dataset": "app"}, {}, {}, f"{contrib}/receiver/filelogreceiver"),
        ],
        mode="ecs",
    )
    assert out[0] == "logs-collectortelemetry-default"
    assert out[1] == "logs-aws.vpcflow-default"
    assert out[2] == "logs-filelogreceiver-default"
    assert out[3] == "logs-countconnector-default"
    assert out[4] == "logs-app-default"


def test_sanitization_rules(spark):
    out = _route(
        spark,
        [
            # dataset disallows '-'; namespace keeps it; both lowercase, map to '_'
            (0, "logs", {"data_stream.dataset": "My-App Logs/v2",
                         "data_stream.namespace": "Prod-Env:1"}, {}, {}, "s"),
            (1, "logs", {"data_stream.dataset": "d" * 150}, {}, {}, "s"),
        ],
        mode="otel",
    )
    assert out[0] == "logs-my_app_logs_v2.otel-prod-env_1"
    # 100-byte cap minus len(".otel") = 95 chars kept
    assert out[1] == "logs-" + "d" * 95 + ".otel-default"


def test_bodymap_type_override_and_gate(spark):
    out = _route(
        spark,
        [
            (0, "logs", {"data_stream.type": "metrics"}, {}, {}, "s"),
            (1, "logs", {"data_stream.type": "bogus"}, {}, {}, "s"),
            (2, "logs", {}, {}, {}, "s"),
        ],
        mode="bodymap",
    )
    assert out[0] == "metrics-generic-default"
    assert out[1] is None  # disallowed type -> error -> dropped (NULL)
    assert out[2] == "logs-generic-default"


def test_static_and_logstash(spark):
    df = spark.createDataFrame([(0, dt.datetime(2024, 3, 5, 12))], "id int, ts timestamp")
    df = df.withColumn("signal", F.lit("logs"))
    for c in ("attrs", "scope_attrs", "res_attrs"):
        df = df.withColumn(c, F.create_map().cast("map<string,string>"))
    df = df.withColumn("scope_name", F.lit("s"))
    routed = route_documents(df, static_index="fixed-idx")
    assert routed.select("es_index").collect()[0]["es_index"] == "fixed-idx"


def test_plan_stays_native(spark):
    df = spark.createDataFrame([(0, "logs", {}, {}, {}, "s")], _SCHEMA)
    plan = route_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_null_signal_yields_null_index(spark):
    """A NULL type must surface as a NULL index, not a silently malformed
    two-segment name (concat_ws skips NULLs)."""
    out = _route(spark, [(0, None, {}, {}, {}, "s")], mode="otel")
    assert out[0] is None
