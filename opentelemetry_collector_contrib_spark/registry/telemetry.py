"""Driver-contract registry: the remaining collector operators as
oracle-checked queries — count/sum connectors, logdedup, interval,
delta/cumulative family, histograms, metricstransform, recombine,
groupbytrace, tail sampling, samplers, attraction actions, redaction,
unroll, and an OTTL function showcase.

Events-table queries exercise the metric-shaped operators (the events table
is the datapoint stream analogue); transcript queries exercise the stateful
session operators on the fixture pipeline.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .transcript_sql import pipeline_cte

# window arithmetic shared by Spark + SQL: floor(epoch_seconds / i) * i
_WIN_SQL = "CAST(floor(epoch_us(ts) / ({i} * CAST(1000000 AS BIGINT))) AS BIGINT) * {i}"


def _nn_map(*pairs):
    """Null-filtered literal map: absent attributes stay absent instead
    of mapping to NULL values (the synthesized-attribute convention)."""
    return F.map_filter(F.create_map(*pairs), lambda _k, v: v.isNotNull())


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures import ensure_dims, ensure_tier
    from ..plans.pipeline import build_routed

    ensure_tier("t2")
    ensure_dims()
    return build_routed(spark, sf_dir)


def _fixture_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures import ensure_tier, tier_for_sf_dir

    return spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir)))


# ---------------------------------------------------------------------------
# events-table operator queries
# ---------------------------------------------------------------------------


def q_count_by_type(spark, sf_dir):
    from ..operators.aggregate import count_connector

    return count_connector(_events(spark, sf_dir), ["event_type"], condition="value > 50")


def q_events_rollup_report(spark, sf_dir):
    """Multi-granularity telemetry report in ONE shuffle: GROUP BY ROLLUP
    (event_type, hour) — per-(type,hour) cells, per-type subtotals, grand
    total, disambiguated by grouping_id. The alternative (three groupBy
    jobs + union) scans the corpus three times; rollup expands grouping
    sets pre-exchange and partial-aggregates map-side. Decimal sum keeps
    the value total order-insensitive for the cross-engine hash."""
    from ..operators.aggregate import rollup_report

    ev = _events(spark, sf_dir).withColumn(
        "hour", F.date_trunc("hour", F.col("ts").cast("timestamp"))
    )
    return rollup_report(
        ev,
        ["event_type", "hour"],
        {
            "n": F.count(F.lit(1)),
            "total": F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
        },
    )


def q_count_incremental(spark, sf_dir):
    """Materialized-view maintenance for the connector aggregates:
    history (event_id%10 < 9) folds into a persisted state, the new
    batch (%10 == 9) into a delta, merge_agg_state joins the two — the
    result must EQUAL the full recompute (the oracle) without rescanning
    history: O(batch)+O(state) per refresh at any corpus size."""
    from ..operators.aggregate import merge_agg_state

    ev = _events(spark, sf_dir).select(
        "event_id", "event_type", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )

    def agg(d):
        return d.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("log_count"),
            F.min("us").alias("first_us"),
            F.max("value").alias("max_value"),
        )

    state = agg(ev.filter(F.pmod(F.col("event_id"), F.lit(10)) < 9))
    delta = agg(ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 9))
    return merge_agg_state(
        state, delta, ["event_type"],
        {"log_count": "sum", "first_us": "min", "max_value": "max"},
    )


def q_sum_by_type(spark, sf_dir):
    from ..operators.aggregate import sum_connector

    # decimal accumulation: exact, so the oracle matches bit-for-bit
    # regardless of either engine's summation order. Final cast to DOUBLE:
    # Spark's sum(decimal(18,6)) widens to decimal(28,6) while DuckDB widens
    # to DECIMAL(38,6) — the VALUES agree but the driver's hash is
    # type-sensitive, so both engines cast the exact result to one type.
    out = _events(spark, sf_dir).groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total")
    )
    # keep sum_connector exercised for the double path (rows-only tested)
    _ = sum_connector
    return out


def q_logdedup(spark, sf_dir):
    from ..operators.aggregate import log_dedup

    return log_dedup(_events(spark, sf_dir), ts_col="ts", interval_s=60, key_cols=["event_type"])


def q_interval_last(spark, sf_dir):
    from ..operators.aggregate import interval_last

    return interval_last(_events(spark, sf_dir), ["user_id"], "ts", "value", interval_s=3600)


def q_cumulative(spark, sf_dir):
    from ..operators.aggregate import delta_to_cumulative

    out = delta_to_cumulative(_events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value")
    return out.select("event_id", "user_id", F.round("cumulative", 6).alias("cumulative"))


def q_delta(spark, sf_dir):
    from ..operators.aggregate import cumulative_to_delta

    out = cumulative_to_delta(_events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value")
    return out.select("event_id", "user_id", F.round("delta", 6).alias("delta"))


def q_rate(spark, sf_dir):
    from ..operators.aggregate import delta_to_rate

    out = delta_to_rate(_events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value")
    return out.select("event_id", "user_id", F.round("rate", 6).alias("rate"))


def q_histogram(spark, sf_dir):
    from ..operators.aggregate import span_metrics_histogram

    return span_metrics_histogram(_events(spark, sf_dir), ["event_type"], "value", [1.0, 5.0, 10.0, 50.0, 100.0])


def q_histogram_rebucket(spark, sf_dir):
    """OTLP histogram datapoint lifecycle: build fine-grained per-(type,
    user-cell) datapoints, aggregate_labels-merge the cells away
    (metricstransformprocessor histogram branch), then coarsen bounds
    (OTTL merge_histogram_buckets / remove_explicit_bound). The oracle
    computes each event_type's histogram DIRECTLY at the coarse bounds —
    merge∘rebucket must equal recomputation, which is the semantic claim."""
    from ..operators.aggregate import histogram_datapoints, histogram_merge, histogram_rebucket

    ev = _events(spark, sf_dir).withColumn("cell", F.pmod(F.col("user_id"), F.lit(4)))
    fine = histogram_datapoints(ev, ["event_type", "cell"], "value", [1.0, 5.0, 10.0, 50.0, 100.0])
    merged = histogram_merge(fine, ["event_type"])
    coarse = histogram_rebucket(merged, [5.0, 50.0])
    return coarse.select(
        "event_type",
        "h_count",
        "h_sum",
        F.array_join(F.transform(F.col("bucket_counts"), lambda x: x.cast("string")), ",").alias(
            "buckets_csv"
        ),
    )


def q_exp_histogram_merge(spark, sf_dir):
    """Exponential-histogram datapoint merge with scale alignment
    (deltatocumulative expo.Downscale + Adder.Exponential): synthesize
    per-(type, user-cell) datapoints at MIXED scales (2 or 3) and offsets
    (-2/1/4) with pure integer bucket synthesis, then merge per event_type —
    the scale-3 cells must collapse (perfect subsetting) before the
    index-aligned adds. The oracle recomputes the same integer math in SQL."""
    from ..operators.aggregate import exp_histogram_merge

    ev = _events(spark, sf_dir).withColumn("cell", F.pmod(F.col("user_id"), F.lit(3)))
    cells = (
        ev.groupBy("event_type", "cell")
        .agg(
            F.count(F.lit(1)).alias("h_count"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("h_sum"),
            F.sum(F.when(F.pmod(F.col("event_id"), F.lit(7)) == 0, 1).otherwise(0))
            .cast("long")
            .alias("zero_count"),
            *[
                F.sum(F.when(F.pmod(F.col("event_id"), F.lit(6)) == j, 1).otherwise(0))
                .cast("long")
                .alias(f"_c{j}")
                for j in range(6)
            ],
        )
        .select(
            "event_type",
            (F.lit(2) + F.pmod(F.col("cell"), F.lit(2))).cast("int").alias("scale"),
            "zero_count",
            "h_count",
            "h_sum",
            (F.col("cell") * 3 - 2).cast("int").alias("offset"),
            F.array(*[F.col(f"_c{j}") for j in range(6)]).alias("bucket_counts"),
        )
    )
    merged = exp_histogram_merge(cells, ["event_type"])
    return merged.select(
        "event_type",
        "scale",
        "zero_count",
        "h_count",
        "h_sum",
        "offset",
        F.array_join(F.transform(F.col("bucket_counts"), lambda x: x.cast("string")), ",").alias(
            "buckets_csv"
        ),
    )


def q_exp_histogram_cumulative(spark, sf_dir):
    """deltatocumulativeprocessor over exponential histograms: hourly delta
    datapoints per event_type (synthesized with integer math, scales
    alternating by hour so the running merge must downscale mid-series)
    become running cumulative merges. Oracle recomputes the same windowed
    integer math in SQL."""
    from ..operators.aggregate import exp_histogram_delta_to_cumulative

    ev = _events(spark, sf_dir).withColumn(
        "h", F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600).cast("bigint")
    )
    dp = (
        ev.groupBy("event_type", "h")
        .agg(
            F.count(F.lit(1)).alias("h_count"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("h_sum"),
            F.sum(F.when(F.pmod(F.col("event_id"), F.lit(5)) == 0, 1).otherwise(0))
            .cast("long")
            .alias("zero_count"),
            *[
                F.sum(F.when(F.pmod(F.col("event_id"), F.lit(4)) == j, 1).otherwise(0))
                .cast("long")
                .alias(f"_c{j}")
                for j in range(4)
            ],
        )
        .select(
            "event_type",
            "h",
            (F.lit(2) + F.pmod(F.col("h"), F.lit(2))).cast("int").alias("scale"),
            "zero_count",
            "h_count",
            "h_sum",
            (F.pmod(F.col("h"), F.lit(3)) * 2 - 1).cast("int").alias("offset"),
            F.array(*[F.col(f"_c{j}") for j in range(4)]).alias("bucket_counts"),
        )
    )
    out = exp_histogram_delta_to_cumulative(dp, ["event_type"], "h")
    return out.select(
        "event_type",
        "h",
        "scale",
        "zero_count",
        "h_count",
        "h_sum",
        "offset",
        F.array_join(F.transform(F.col("bucket_counts"), lambda x: x.cast("string")), ",").alias(
            "buckets_csv"
        ),
    )


def q_histogram_cum_to_delta(spark, sf_dir):
    """cumulativetodelta over explicit-bound histogram series: hourly delta
    histograms are synthesized from events, turned into cumulative series
    with window sums, then the operator recovers the deltas — the oracle is
    the direct delta synthesis (round-trip identity), with is_reset true
    exactly on each series' first datapoint."""
    from pyspark.sql import Window

    from ..operators.aggregate import histogram_cumulative_to_delta

    ev = _events(spark, sf_dir).withColumn(
        "h", F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600).cast("bigint")
    )
    deltas = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("dc"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("ds"),
        *[
            F.sum(F.when(F.pmod(F.col("event_id"), F.lit(4)) == j, 1).otherwise(0))
            .cast("long")
            .alias(f"_c{j}")
            for j in range(4)
        ],
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = deltas.select(
        "event_type",
        "h",
        F.sum("dc").over(wcum).alias("h_count"),
        F.sum("ds").over(wcum).cast("double").alias("h_sum"),
        F.array(*[F.sum(f"_c{j}").over(wcum) for j in range(4)]).alias("bucket_counts"),
        F.array(F.lit(10.0), F.lit(50.0), F.lit(100.0)).alias("explicit_bounds"),
    )
    out = histogram_cumulative_to_delta(cum, ["event_type"], "h")
    return out.select(
        "event_type",
        "h",
        "is_reset",
        "h_count",
        "h_sum",
        F.array_join(F.transform(F.col("bucket_counts"), lambda x: x.cast("string")), ",").alias(
            "buckets_csv"
        ),
    )


def q_histogram_limit(spark, sf_dir):
    """merge_histogram_buckets(method=limit_buckets): six fine buckets
    collapse pairwise twice down to the 2-bucket cap; the result must equal
    direct recomputation at the surviving boundary (<=50 / >50)."""
    from ..operators.aggregate import histogram_datapoints, histogram_limit_buckets

    fine = histogram_datapoints(
        _events(spark, sf_dir), ["event_type"], "value", [1.0, 5.0, 10.0, 50.0, 100.0]
    )
    out = histogram_limit_buckets(fine, 2)
    return out.select(
        "event_type",
        "h_count",
        F.array_join(F.transform(F.col("bucket_counts"), lambda x: x.cast("string")), ",").alias(
            "buckets_csv"
        ),
        F.array_join(F.transform(F.col("explicit_bounds"), lambda x: x.cast("string")), ",").alias(
            "bounds_csv"
        ),
    )


def q_parse_statsd(spark, sf_dir):
    """statsd wire-format lines (statsdreceiver parser semantics: metric
    types, |@rate, DogStatsD #tags) synthesized from events with integer
    value rendering (engine-identical strings); every 10th line malformed
    -> NULLs."""
    from ..operators.parse import parse_statsd

    ev = _events(spark, sf_dir)
    iv = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    body = F.when(
        F.pmod(F.col("event_id"), F.lit(10)) == 0, F.lit("not a statsd line")
    ).otherwise(
        F.concat(
            F.col("event_type"), F.lit(":"), iv, F.lit("|ms|@0.5|#user:"),
            F.pmod(F.col("user_id"), F.lit(10)).cast("string"), F.lit(",env:prod"),
        )
    )
    out = parse_statsd(ev.withColumn("body", body), "body")
    return out.select("event_id", "st_name", "st_value", "st_type", "st_rate", "st_tags_csv")


def q_parse_influx_line(spark, sf_dir):
    """InfluxDB line protocol (influxdbreceiver wire format): measurement,
    sorted tag set, field set, nanosecond timestamp round-tripped back to
    the original event time."""
    from ..operators.parse import parse_influx_line

    ev = _events(spark, sf_dir)
    iv = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string")
    body = F.concat(
        F.col("event_type"), F.lit(",host=h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
        F.lit(",dc=west value="), iv, F.lit("i "), ns,
    )
    out = parse_influx_line(ev.withColumn("body", body), "body")
    return out.select(
        "event_id",
        "il_measurement",
        "il_tags_csv",
        "il_fields_csv",
        F.unix_micros(F.col("il_ts")).alias("il_ts_us"),
    )


def q_parse_prometheus_text(spark, sf_dir):
    """Prometheus text exposition samples (prometheusreceiver scrape
    payload): metric name, sorted label pairs, value, optional epoch-ms
    timestamp."""
    from ..operators.parse import parse_prometheus_text

    ev = _events(spark, sf_dir)
    iv = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("bigint")
    body = F.concat(
        F.col("event_type"), F.lit('_total{code="'), F.pmod(F.col("event_id"), F.lit(3)).cast("string"),
        F.lit('",method="get"} '), iv, F.lit(" "), ms.cast("string"),
    )
    out = parse_prometheus_text(ev.withColumn("body", body), "body")
    return out.select(
        "event_id",
        "pm_name",
        "pm_labels_csv",
        "pm_value",
        F.unix_millis(F.col("pm_ts")).alias("pm_ts_ms"),
    )


def q_zipkin_spans(spark, sf_dir):
    """Zipkin v2 JSON payloads (two spans per payload: a server parent and
    its client child) unfold to one row per span through the schema'd
    from_json + explode path; tags as sorted k=v CSV."""
    from ..operators.parse import zipkin_json_spans

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp")).cast("string")
    eid = F.col("event_id").cast("string")
    body = F.concat(
        F.lit('[{"traceId":"t'), eid, F.lit('","id":"s1","name":"'), F.col("event_type"),
        F.lit('","kind":"SERVER","timestamp":'), us,
        F.lit(',"duration":1000,"localEndpoint":{"serviceName":"api"},"tags":{"user":"u'),
        F.pmod(F.col("user_id"), F.lit(7)).cast("string"),
        F.lit('","env":"prod"}},{"traceId":"t'), eid,
        F.lit('","id":"s2","parentId":"s1","name":"'), F.col("event_type"),
        F.lit('_call","kind":"CLIENT","timestamp":'), us, F.lit(',"duration":500}]'),
    )
    out = zipkin_json_spans(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "trace_id", "span_id", "parent_span_id", "span_name",
        "span_kind", "ts_us", "duration_us", "service_name", "tags_csv",
    )


def q_loki_push(spark, sf_dir):
    """Loki push payloads: one stream per event with two [ns, line] values;
    rows = 2x events with sorted label CSVs and exact ns->us times."""
    from ..operators.parse import loki_json_push

    ev = _events(spark, sf_dir)
    ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string")
    body = F.concat(
        F.lit('{"streams":[{"stream":{"job":"'), F.col("event_type"),
        F.lit('","host":"h'), F.pmod(F.col("user_id"), F.lit(4)).cast("string"),
        F.lit('"},"values":[["'), ns, F.lit('","line one for '), F.col("event_type"),
        F.lit('"],["'), ns, F.lit('","line two"]]}]}'),
    )
    out = loki_json_push(ev.withColumn("body", body), "body")
    return out.select(
        "event_id",
        "labels_csv",
        F.unix_micros(F.col("line_ts")).alias("line_ts_us"),
        "line",
    )


def q_histogram_scaled(spark, sf_dir):
    """experimental_scale_value on histogram datapoints (ms -> s): sum and
    bounds scale, bucket counts are invariant. Bounds surface as
    micro-unit integers so float->string rendering differences between
    engines can't perturb the hash."""
    from ..operators.aggregate import histogram_datapoints, histogram_scale_values

    fine = histogram_datapoints(
        _events(spark, sf_dir), ["event_type"], "value", [1.0, 5.0, 10.0, 50.0, 100.0]
    )
    out = histogram_scale_values(fine, 0.001)
    return out.select(
        "event_type",
        "h_count",
        "h_sum",
        F.array_join(F.transform(F.col("bucket_counts"), lambda x: x.cast("string")), ",").alias(
            "buckets_csv"
        ),
        F.array_join(
            F.transform(
                F.col("explicit_bounds"),
                lambda b: F.round(b * 1000000).cast("long").cast("string"),
            ),
            ",",
        ).alias("bounds_micro_csv"),
    )


def q_host_info(spark, sf_dir):
    """grafanacloudconnector per-host datapoints: the first PRESENT
    identifier wins (here a synthetic error-host id that only error events
    carry, else user_id — exercising connector.go:79-88's break-on-first),
    one value-1 gauge row per distinct (flush window, host)."""
    from ..operators.aggregate import host_info_datapoints

    ev = _events(spark, sf_dir).withColumn(
        "error_host",
        F.when(
            F.col("event_type") == F.lit("error"),
            F.concat(F.lit("err:"), F.col("user_id").cast("string")),
        ),
    )
    return host_info_datapoints(
        ev, ["error_host", "user_id"], interval_s=86400
    )


def _start_time(spark, sf_dir, strategy):
    from ..operators.aggregate import start_time_adjust

    out = start_time_adjust(
        _events(spark, sf_dir), ["user_id"], ["event_id"], strategy=strategy
    )
    return out.select("user_id", "event_id", "value", "start_ts_us", "adjusted")


def q_start_true_reset(spark, sf_dir):
    """metricstarttime true_reset_point: first point's ts becomes the epoch
    start; resets open a new epoch at ts-1ms; values untouched."""
    return _start_time(spark, sf_dir, "true_reset_point")


def q_start_subtract_initial(spark, sf_dir):
    """metricstarttime subtract_initial_point: drop the reference point,
    report deltas against it; resets re-reference at zero."""
    return _start_time(spark, sf_dir, "subtract_initial_point")


def q_stanza_chain(spark, sf_dir):
    """filelog-receiver `operators:` list end-to-end: regex_parser (named
    groups, on_error=send) → time_parser (strptime) → severity_parser →
    add → router, compiled by plans/stanza_chain.py into one fused
    projection chain."""
    from ..fixtures import ensure_tier, tier_for_sf_dir
    from ..plans.stanza_chain import apply_stanza_operators

    df = spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir)))
    ops = [
        {
            "type": "regex_parser",
            "regex": r"^(?P<log_ts>\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}) \[(?P<lvl>\w+)\] (?P<comp>\w+): (?P<msg>.*)$",
            "parse_from": "body",
            "on_error": "send",
        },
        {"type": "time_parser", "parse_from": "log_ts", "layout_type": "strptime", "layout": "%Y-%m-%dT%H:%M:%S"},
        {"type": "severity_parser", "parse_from": "lvl"},
        {"type": "add", "field": "attributes.chain", "value": "stanza"},
        {"type": "router", "routes": [{"expr": "severity_number >= 17", "output": "errors"}], "default": "general"},
    ]
    out = apply_stanza_operators(df, ops, body_col="text")
    return out.select(
        "conv_id", "turn_idx", "comp", "msg", "severity_text", "severity_number",
        F.unix_micros(F.col("event_ts")).alias("event_ts_us"),
        "chain", "route_id",
    )


def _fixture_move_routes() -> dict:
    """The fixture route table's move routes (FIXTURE_ROUTE_SPEC without
    its copy route)."""
    from ..operators.route import FIXTURE_ROUTE_SPEC

    return {
        "default": FIXTURE_ROUTE_SPEC["default"],
        "table": [r for r in FIXTURE_ROUTE_SPEC["table"] if r["mode"] == "move"],
    }


def q_collector_service(spark, sf_dir):
    """service::pipelines DAG end-to-end: a logs pipeline routes parsed
    transcripts and exports to TWO connectors (count + sum), each feeding
    its own metrics pipeline (countconnector README:51-63 topology). The
    joined sinks prove both edges carried the same routed frame."""
    from ..fixtures import ensure_tier, tier_for_sf_dir
    from ..plans.config import build_service

    src = ensure_tier(tier_for_sf_dir(sf_dir))
    service = {
        "pipelines": {
            "logs/in": {
                "receivers": [{"path": src}],
                "spec": {
                    "routes": _fixture_move_routes(),
                    "order": {"enabled": False},
                },
                "exporters": ["count/routes", "sum/latency"],
            },
            "metrics/counts": {
                "receivers": ["count/routes"],
                "exporters": ["sink:route_counts"],
            },
            "metrics/latency": {
                "receivers": ["sum/latency"],
                "exporters": ["sink:latency_totals"],
            },
        },
        "connectors": {
            "count/routes": {"type": "count", "dims": ["route_id"]},
            "sum/latency": {"type": "sum", "dims": ["route_id"], "source": "latency_ms"},
        },
    }
    sinks = build_service(spark, service)["sinks"]
    return sinks["route_counts"].join(sinks["latency_totals"], "route_id")


def q_collector_service_forward(spark, sf_dir):
    """service DAG with a forward (pass-through) connector edge: the logs
    pipeline routes, a forward connector bridges to a tap pipeline whose
    filter keeps only error-routed rows (core forwardconnector shape)."""
    from ..fixtures import ensure_tier, tier_for_sf_dir
    from ..plans.config import build_service

    service = {
        "pipelines": {
            "logs/in": {
                "receivers": [{"path": ensure_tier(tier_for_sf_dir(sf_dir))}],
                "spec": {
                    "routes": _fixture_move_routes(),
                    "order": {"enabled": False},
                },
                "exporters": ["fwd"],
            },
            "logs/errors_tap": {
                "receivers": ["fwd"],
                "spec": {"filter": ['route_id != "errors"']},
                "exporters": ["sink:errors"],
            },
        },
        "connectors": {"fwd": {"type": "forward"}},
    }
    sinks = build_service(spark, service)["sinks"]
    return sinks["errors"].select("conv_id", "turn_idx", "text", "route_id")


def q_metrics_transform(spark, sf_dir):
    from ..operators.aggregate import metrics_transform_agg

    out = metrics_transform_agg(_events(spark, sf_dir), ["event_type"], "value")
    return out.select(
        "event_type",
        F.round("agg_sum", 3).alias("agg_sum"),
        F.round("agg_mean", 6).alias("agg_mean"),
        F.round("agg_min", 6).alias("agg_min"),
        F.round("agg_max", 6).alias("agg_max"),
        F.round("agg_median", 6).alias("agg_median"),
        "agg_count",
    )


def q_signal_to_metrics(spark, sf_dir):
    """signaltometricsconnector: metric datapoints generated from the log
    stream via compiled OTTL conditions/values."""
    from ..operators.aggregate import signal_to_metrics

    specs = [
        {"name": "turn.count", "type": "count", "dims": ["route_id"]},
        {"name": "err.count", "type": "count", "dims": ["role"], "condition": 'status == "err"'},
        {"name": "latency.sum", "type": "sum", "dims": ["tool"], "condition": "latency_ms >= 0", "value": "latency_ms"},
    ]
    return signal_to_metrics(_routed(spark, sf_dir), specs)


def q_exceptions(spark, sf_dir):
    """exceptionsconnector: error rows → exceptions.count + exemplar."""
    from ..operators.aggregate import exceptions_connector

    return exceptions_connector(_routed(spark, sf_dir), ["route_id", "role", "tool"])


def q_metrics_rename_scale(spark, sf_dir):
    """metricstransform row-level modes over the events metric stream:
    update+rename+scale+add_label, insert (transformed copy), label rename,
    regexp combine, delete_label_value — applied sequentially."""
    from ..operators.aggregate import metrics_transform_rows

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("event_type").alias("metric_name"),
        F.create_map(F.lit("user"), (F.col("user_id") % 10).cast("string")).alias("labels"),
        "value",
    )
    transforms = [
        {
            "include": "view",
            "action": "update",
            "new_name": "page_views",
            "operations": [
                {"action": "scale_value", "factor": 0.001},
                {"action": "add_label", "label": "unit", "value": "k"},
            ],
        },
        {
            "include": "purchase",
            "action": "insert",
            "new_name": "purchase_x2",
            "operations": [{"action": "scale_value", "factor": 2.0}],
        },
        {
            "include": "click",
            "action": "update",
            "operations": [{"action": "update_label", "label": "user", "new_label": "uid"}],
        },
        {"include": "^(error|signup)$", "match_type": "regexp", "action": "combine", "new_name": "ops_events"},
        {
            "include": "ops_events",
            "action": "update",
            "operations": [{"action": "delete_label_value", "label": "user", "value": "7"}],
        },
    ]
    out = metrics_transform_rows(ev, transforms)
    labels_s = F.array_join(
        F.sort_array(
            F.transform(F.map_entries(F.col("labels")), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ",",
    )
    return out.select("event_id", "metric_name", labels_s.alias("labels_s"), "value")


def q_props_json(spark, sf_dir):
    """json_parser over the events props column (get_json_object path)."""
    return _events(spark, sf_dir).select(
        "event_id", F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k")
    )


# ---------------------------------------------------------------------------
# transcript stateful/session operator queries
# ---------------------------------------------------------------------------


def q_recombine(spark, sf_dir):
    from ..operators.recombine import recombine

    r = _routed(spark, sf_dir)
    return recombine(r, "conv_id", "turn_rn", F.col("role") == "user")


def q_group_by_trace(spark, sf_dir):
    from ..operators.recombine import group_by_trace

    return group_by_trace(_routed(spark, sf_dir))


def q_tail_sampling(spark, sf_dir):
    from ..operators.recombine import tail_sampling

    policies = {
        "has_error": F.coalesce(F.max((F.col("status") == "err").cast("int")), F.lit(0)) == 1,
        "high_latency": F.coalesce(F.sum("latency_ms"), F.lit(0)) > 10000,
        "many_turns": F.count(F.lit(1)) >= 100,
    }
    return tail_sampling(_routed(spark, sf_dir), policies=policies)


def _p60(percent: float) -> int:
    """Probabilistic-policy threshold over the portable 60-bit hash space —
    computed identically for the Spark spec and the SQL literal."""
    return int(percent / 100.0 * (1 << 60))


TAIL_POLICIES: list[dict] = [
    {"name": "slow", "type": "latency", "threshold_ms": 600_000},
    {"name": "errs", "type": "status_code", "values": ["err"]},
    {"name": "big", "type": "span_count", "min": 100},
    {"name": "lucky", "type": "probabilistic", "percent": 10.0},
    {"name": "slow_turn", "type": "numeric_attribute", "key": "latency_ms", "min": 9000, "vote": False},
    {"name": "searchy", "type": "string_attribute", "key": "tool", "values": ["search", "web"], "vote": False},
    {"name": "err_search", "type": "and", "of": ["errs", "searchy"]},
    {"name": "dropper", "type": "probabilistic", "percent": 3.0, "vote": False},
    {"name": "drop_unlucky", "type": "drop", "of": ["dropper"]},
]


def q_tail_sampling_policies(spark, sf_dir):
    from ..operators.recombine import tail_sampling_policies

    return tail_sampling_policies(_routed(spark, sf_dir), TAIL_POLICIES, rate_limit_per_minute=5)


def q_sampler_mod(spark, sf_dir):
    from ..operators.filter import deterministic_sampler_mod

    out = deterministic_sampler_mod(_routed(spark, sf_dir), "conv_id", 10, 3)
    return out.select("conv_id", "turn_idx", "route_id")


def q_sampler_hash(spark, sf_dir):
    """Consistent hash sampler on the portable h60 hash — full oracle
    parity (the xxhash64 production variant keeps its pytest determinism/
    rate coverage; its verdicts are engine-specific by nature)."""
    from ..operators.filter import probabilistic_sampler_portable

    out = probabilistic_sampler_portable(_routed(spark, sf_dir), "conv_id", 25.0)
    return out.select("conv_id", "turn_idx", "route_id")


# Composite-key enrichment dim (geoipprocessor shape: a second-stage lookup
# whose key is built FROM enriched attributes, with a miss→default path —
# the "unknown location" case). Literal rows so the oracle reproduces them.
SESSION_TIER_DIM: list[tuple[str, str, str, float]] = [
    ("model", "retrieval", "tier-a", 1.5),
    ("model", "execution", "tier-b", 3.0),
    ("model", "io", "tier-b", 2.0),
    ("human", "n/a", "tier-h", 0.1),
    ("infra", "n/a", "tier-i", 0.0),
]


def q_enrich_composite(spark, sf_dir):
    """Second enrichment stage keyed on the COMPOSITE (role_group,
    tool_category) — both values are themselves outputs of the first-stage
    lookups, mirroring geoip's derive-key-then-lookup chain. Broadcast join,
    default fill on miss."""
    from ..operators.enrich import lookup

    dim = spark.createDataFrame(
        SESSION_TIER_DIM, "role_group string, tool_category string, session_tier string, tier_weight double"
    )
    out = lookup(
        _routed(spark, sf_dir),
        dim,
        ["role_group", "tool_category"],
        {"session_tier": "tier-z", "tier_weight": 0.0},
    )
    return out.select("conv_id", "turn_idx", "role_group", "tool_category", "session_tier", "tier_weight")


def _scd2_changes(spark, sf_dir, pred=None):
    """Deterministic dimension change log derived from the events table:
    each event is a change record for entity user_id carrying two tracked
    attributes (tier = event_type, region = floor(value) % 7), ordered by
    (ts, event_id)."""
    ev = _events(spark, sf_dir)
    if pred is not None:
        ev = ev.filter(pred)
    return ev.select(
        F.col("user_id").alias("entity_id"),
        F.col("event_id").alias("seq"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("valid_from"),
        F.col("event_type").alias("tier"),
        (F.floor("value").cast("bigint") % 7).alias("region"),
    )


def q_scd2_dim(spark, sf_dir):
    """SCD2 versioned dimension from a change log: consecutive changes with
    identical tracked attrs collapse into one version; each version carries
    a half-open [valid_from, valid_to) interval (NULL = current). The
    static lookupprocessor dim (processor/lookupprocessor) generalized to
    dims that change over an ingest measured in months."""
    from ..operators.scd import scd2_build

    return scd2_build(_scd2_changes(spark, sf_dir), "entity_id", ["tier", "region"])


def q_scd2_lookup(spark, sf_dir):
    """As-of enrichment against the versioned dim: every 10th event is a
    fact, the rest form the change log; each fact picks the version in
    force at its own timestamp (facts before any version keep NULLs). One
    broadcast hash join with the validity interval as residual — zero
    shuffle on the fact side."""
    from ..operators.scd import scd2_build, scd2_lookup

    is_fact = F.col("event_id") % 10 == 7
    dim = scd2_build(
        _scd2_changes(spark, sf_dir, ~is_fact), "entity_id", ["tier", "region"]
    ).withColumn("version_from", F.col("valid_from"))
    facts = (
        _events(spark, sf_dir)
        .filter(is_fact)
        .select(
            "event_id",
            F.col("user_id").alias("entity_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("event_us"),
        )
    )
    return scd2_lookup(
        facts, dim, "entity_id", "event_us", attrs=["tier", "region", "version_from"]
    )


def q_scd2_incremental(spark, sf_dir):
    """Incremental SCD2 maintenance contract: history (first 80% of the
    time span) builds the persisted dim, the remainder arrives as a batch,
    scd2_merge folds it in touching only open versions of affected keys —
    and the result must EQUAL the full replay (the oracle). O(batch + open
    rows) per refresh at any corpus size. The cutoff attaches as a 1-row
    broadcast aggregate (the scalar-subquery plan shape: a
    BroadcastNestedLoopJoin whose inner side is exactly one row — O(n)
    work, not a quadratic nested loop, and no driver collect)."""
    from ..operators.scd import scd2_build, scd2_merge
    from pyspark.sql.functions import broadcast

    ch = _scd2_changes(spark, sf_dir)
    cut = ch.agg(
        (F.min("valid_from") + (F.max("valid_from") - F.min("valid_from")) * 4 / 5)
        .cast("bigint")
        .alias("__cut")
    )
    hist = ch.join(broadcast(cut)).filter(F.col("valid_from") < F.col("__cut")).drop("__cut")
    batch = ch.join(broadcast(cut)).filter(F.col("valid_from") >= F.col("__cut")).drop("__cut")
    dim = scd2_build(hist, "entity_id", ["tier", "region"])
    return scd2_merge(dim, batch, "entity_id", ["tier", "region"])


def q_geoip_enrich(spark, sf_dir):
    """geoipprocessor analogue (processor/geoipprocessor/geoip_processor.go,
    maxmindprovider): CIDR-block range lookup as a bucketed broadcast
    equi-join. IPs are derived deterministically from event_id and include
    in-block hits (/16 and /8 matches), a no-block miss, an out-of-range
    octet, and a non-IP string — the latter three resolve to NULL geo
    attrs (ignore-mode semantics, geoip_processor.go:60-66,80-82)."""
    from ..operators.enrich import geoip_lookup

    ev = _events(spark, sf_dir)
    m = F.col("event_id") % 50
    e = F.col("event_id")
    ip = (
        F.when(m == 49, F.lit("not-an-ip"))
        .when(m == 48, F.lit("10.7.0.300"))
        .when(m == 47, F.lit("240.1.2.3"))
        .when(m % 5 == 3, F.concat(F.lit("11."), (e % 256).cast("string"), F.lit(".33.7")))
        .otherwise(
            F.concat(
                F.lit("10."), (e % 200).cast("string"), F.lit("."),
                (e % 256).cast("string"), F.lit("."), ((e * 7) % 256).cast("string"),
            )
        )
    )
    fact = ev.select("event_id", ip.alias("client_ip"))
    blocks = spark.range(200).select(
        F.concat(F.lit("10."), F.col("id").cast("string"), F.lit(".0.0/16")).alias("network"),
        F.concat(F.lit("C"), (F.col("id") % 10).cast("string")).alias("geo_country_iso"),
        F.concat(F.lit("city-"), F.col("id").cast("string")).alias("geo_city_name"),
    ).unionByName(
        spark.createDataFrame(
            [("11.0.0.0/8", "XX", "wide-net")],
            "network string, geo_country_iso string, geo_city_name string",
        )
    )
    out = geoip_lookup(fact, "client_ip", blocks)
    return out.select("event_id", "client_ip", "geo_country_iso", "geo_city_name")


def q_attr_actions(spark, sf_dir):
    from ..operators.transform import AttrAction, apply_attr_actions, copy_field

    r = copy_field(_routed(spark, sf_dir), "tool", "tool_sha")
    out = apply_attr_actions(
        r,
        [
            AttrAction("upsert", "pipeline", value="logs"),
            AttrAction("insert", "status", value="unset"),           # only fills nulls
            AttrAction("hash", "tool_sha"),                           # sha256 hex
            AttrAction("convert", "latency_ms", converted_type="double"),
        ],
    )
    return out.select("conv_id", "turn_idx", "pipeline", "status", "tool_sha", "latency_ms")


def q_redaction(spark, sf_dir):
    from ..operators.transform import redact

    out = redact(
        _routed(spark, sf_dir),
        allowed_cols=["conv_id", "turn_idx", "text"],
        masked_patterns={"text": r"\d+"},
        mask="#",
    )
    return out


def q_unroll_tokens(spark, sf_dir):
    from ..operators.textstats import tokens
    from ..operators.transform import unroll

    r = _routed(spark, sf_dir).filter(F.col("pattern_id") == "raw")
    out = unroll(r.withColumn("toks", tokens(F.col("text"))), "toks", out_col="element")
    return out.select("conv_id", "turn_idx", "element")


def q_events_value_drift(spark, sf_dir):
    """PSI drift of the event value distribution: first half of January
    as the reference window vs the second half as current — the daily
    did-the-data-change-shape gate (operators/drift.py)."""
    from ..operators.drift import psi_drift

    e = _events(spark, sf_dir)
    return psi_drift(
        e,
        F.col("value"),
        F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
        n_buckets=10,
        feature_name="value",
    )


def q_events_value_ks(spark, sf_dir):
    """KS drift of the event value distribution on the 10k-cell grid,
    same window split as events_value_drift."""
    from ..operators.drift import ks_drift

    return ks_drift(
        _events(spark, sf_dir),
        F.col("value"),
        F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
        feature_name="value",
    )


def q_tool_slo_report(spark, sf_dir):
    """Per-tool SLO table over the parsed pipeline: call volume, error
    rate, and exact p50/p95/p99 latency — the RED-metrics dashboard row
    (spanmetrics semantics at tool granularity, explicit quantiles)."""
    r = _routed(spark, sf_dir).filter(
        (F.col("tool") != "none")
        & F.col("status").isNotNull()
        & F.col("latency_ms").isNotNull()
    )
    q = F.expr("percentile(latency_ms, array(0.5, 0.95, 0.99))")
    return r.groupBy("tool").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.sum(F.when(F.col("status") == "err", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
        F.round(
            F.sum(F.when(F.col("status") == "err", 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("err_rate"),
        F.round(q.getItem(0), 6).alias("p50_ms"),
        F.round(q.getItem(1), 6).alias("p95_ms"),
        F.round(q.getItem(2), 6).alias("p99_ms"),
    )


def q_events_burn_rate(spark, sf_dir):
    """Multi-window SLO burn-rate alerting (Google SRE workbook recipe)
    per user over the events stream: error-rate over a 6 h magnitude
    window AND a 30 min still-happening window, both divided by the 10%
    error budget; both ≥ 2× pages. One exchange, two RANGE frames."""
    from ..operators.timeseries import burn_rate_alerts

    ev = _events(spark, sf_dir).withColumn(
        "is_err", F.col("event_type") == "error"
    )
    out = burn_rate_alerts(
        ev, ["user_id"], slo_target=0.9, long_s=6 * 3600, short_s=1800, factor=2.0
    )
    return out.select("user_id", "event_id", "burn_long", "burn_short", "alert")


def q_dp_event_counts(spark, sf_dir):
    """ε-DP release of the event-type histogram (Laplace mechanism,
    ε=1.0, sensitivity 1). The noise draw is seeded from the group key so
    the release is reproducible — and the oracle draws the identical
    noise, which is exactly the reproducibility contract under test."""
    from ..operators.curation import dp_noisy_counts

    return dp_noisy_counts(_events(spark, sf_dir), ["event_type"], epsilon=1.0)


def q_dp_event_sums(spark, sf_dir):
    """ε-DP per-type value sums: contributions clipped to [0, 100]
    (bounding sensitivity), Laplace(clip/ε) on the clipped exact-decimal
    sum, ε=2.0."""
    from ..operators.curation import dp_noisy_sum

    return dp_noisy_sum(
        _events(spark, sf_dir), ["event_type"], "value", clip=100.0, epsilon=2.0
    )


def _votes(spark, sf_dir):
    """Deterministic (item, rater, label) vote table from events:
    item = event_id % 500 (~20 raters per item), rater = user_id,
    label = event_type — the label-QA shape for human-annotation audits."""
    return _events(spark, sf_dir).select(
        F.pmod(F.col("event_id"), F.lit(500)).cast("bigint").alias("item_id"),
        F.col("user_id").alias("rater"),
        F.col("event_type").alias("label"),
    )


def q_label_majority_vote(spark, sf_dir):
    """Per-item label consensus: modal label (count desc, label asc
    tie-break), support, rater count, and pairwise per-item agreement —
    the first aggregation of every human-labeling pipeline."""
    from ..operators.curation import majority_vote

    return majority_vote(_votes(spark, sf_dir), "item_id", "rater", "label")


def q_label_fleiss_kappa(spark, sf_dir):
    """Chance-corrected inter-rater agreement pooled over rater pairs
    (varying raters-per-item generalization of Fleiss' kappa); one-row
    verdict, integer-exact up to the final divisions."""
    from ..operators.curation import fleiss_kappa

    return fleiss_kappa(_votes(spark, sf_dir), "item_id", "rater", "label")


def q_events_late_profile(spark, sf_dir):
    """Out-of-order arrival diagnostics per user (arrival order =
    event_id, event time = ts): late fraction, max/p95 lateness, and the
    suggested streaming watermark delay — measured, not guessed."""
    from ..operators.timeseries import late_arrival_profile

    return late_arrival_profile(_events(spark, sf_dir), ["user_id"])


def q_events_hourly_residuals(spark, sf_dir):
    """Per-EVENT residual z against the (event_type, hour-of-day)
    seasonal-naive baseline — deviations measured against each hour's
    OWN normal rather than a flat threshold (the night-vs-day
    false-alarm fix). Complements events_seasonal_baseline's per-day
    deviation rollup with row-level anomaly flags."""
    from ..operators.timeseries import seasonal_profile

    out = seasonal_profile(_events(spark, sf_dir), ["event_type"])
    return out.select(
        "event_id", "event_type", "season_bucket",
        "baseline", "residual", "season_z", "season_anomaly",
    )


def q_events_welch_ab(spark, sf_dir):
    """Welch's unequal-variance t between the even/odd user cohorts per
    event type — the A/B metric-comparison primitive. Decimal-exact
    sufficient statistics; t and Welch–Satterthwaite df are the only
    doubles (no p-value: that's a CDF table, not engine work)."""
    from ..operators.timeseries import welch_t

    ev = _events(spark, sf_dir).withColumn(
        "ab", F.pmod(F.col("user_id"), F.lit(2)).cast("int")
    )
    return welch_t(ev, ["event_type"], "ab")


def q_events_top_users_other(spark, sf_dir):
    """Bounded-cardinality dashboard rollup: top-10 users by event count
    + ONE __other__ row folding the long tail, totals preserved exactly
    (decimal sums through the fold, double only at the edge)."""
    from ..operators.aggregate import collapse_long_tail

    out = collapse_long_tail(
        _events(spark, sf_dir),
        "user_id",
        {"total": F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(28,6)")},
        top_k=10,
    )
    return out.select(
        "user_id", "n", F.col("total").cast("double").alias("total")
    )


def q_events_mann_whitney(spark, sf_dir):
    """Mann-Whitney U between the even/odd user cohorts per event type —
    the non-parametric A/B sibling of events_welch_ab for skewed
    metrics; tie-corrected normal-approximation z + the U/n1n2 win
    probability effect size."""
    from ..operators.timeseries import mann_whitney_u

    ev = _events(spark, sf_dir).withColumn(
        "ab", F.pmod(F.col("user_id"), F.lit(2)).cast("int")
    )
    return mann_whitney_u(ev, ["event_type"], "ab")


def q_events_cusum(spark, sf_dir):
    """Page's CUSUM mean-shift statistic per event type over the gauge
    value (target 50, threshold 500) — the sequential-looking recurrence
    computed via its prefix-sum/running-extremum closed form: two window
    aggregates, no recursion, decimal-exact."""
    from ..operators.timeseries import cusum_alarms

    return cusum_alarms(
        _events(spark, sf_dir),
        ["event_type"],
        target=50.0,
        threshold=500.0,
        seq_col="event_id",
    )


def q_events_benford(spark, sf_dir):
    """First-digit Benford audit of the gauge value per event type — the
    fabricated/clamped-data screen. Integer-rendered first digits (no
    double→string or log10 parity traps), χ² vs the literal Benford
    expectation."""
    from ..operators.profiling import benford_audit

    return benford_audit(_events(spark, sf_dir), "value", by=["event_type"])


def q_events_flap_profile(spark, sf_dir):
    """Status-flapping diagnostics per user over the event_type stream:
    transitions, flap rate, longest stable run (gaps-and-islands)."""
    from ..operators.timeseries import flap_profile

    return flap_profile(
        _events(spark, sf_dir), ["user_id"], "event_type", seq_col="event_id"
    )


def q_events_autocorr(spark, sf_dir):
    """Per-type lag-1 autocorrelation of the gauge value — persistence /
    seasonality detector; decimal-exact sufficient statistics."""
    from ..operators.timeseries import autocorrelation

    return autocorrelation(_events(spark, sf_dir), ["event_type"], seq_col="event_id")


def q_events_trend(spark, sf_dir):
    """Per-event-type OLS trend (slope per hour, intercept, R²) of the
    gauge value over time — metric creep as a statistic. Decimal-exact
    sufficient statistics; only the final divisions are double."""
    from ..operators.timeseries import group_trend

    return group_trend(_events(spark, sf_dir), ["event_type"])


def q_events_table_diff(spark, sf_dir):
    """Row-level regression diff between two deterministic versions of
    the events table (old drops event_id%13==0; new drops %17==0 and
    doubles error values): FULL OUTER join on the key + null-safe column
    compare → added/removed/changed/unchanged verdicts with the changed
    column list — the audit gate between pipeline runs."""
    from ..plans.contracts import table_diff

    ev = _events(spark, sf_dir)
    old = ev.filter(F.pmod(F.col("event_id"), F.lit(13)) != 0).select(
        "event_id", "event_type", "value"
    )
    new = ev.filter(F.pmod(F.col("event_id"), F.lit(17)) != 0).select(
        "event_id",
        "event_type",
        F.round(
            F.when(F.col("event_type") == "error", F.col("value") * 2).otherwise(
                F.col("value")
            ),
            6,
        ).alias("value"),
    )
    out = table_diff(old, new, ["event_id"], ["event_type", "value"])
    return out.select(
        "event_id",
        "verdict",
        F.array_join("changed_cols", ",").alias("changed_cols"),
        "old_event_type",
        "new_event_type",
        "old_value",
        "new_value",
    )


def q_events_funnel(spark, sf_dir):
    """view -> click -> purchase funnel per user, earliest-completion
    semantics with a 7-day anchored window."""
    from ..operators.timeseries import funnel_steps

    return funnel_steps(
        _events(spark, sf_dir),
        ["view", "click", "purchase"],
        within_us=7 * 24 * 3600 * 1_000_000,
    )


def q_events_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix over the events table."""
    from ..operators.timeseries import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


def q_events_twa(spark, sf_dir):
    """Per-(user, day) time-weighted average of the gauge value — step
    interpolation over irregular samples, decimal-exact integral."""
    from ..operators.timeseries import time_weighted_avg

    return time_weighted_avg(
        _events(spark, sf_dir),
        ["user_id", ("day", F.date_trunc("day", F.col("ts").cast("timestamp")))],
    )


def q_service_graph_pagerank(spark, sf_dir):
    """3-iteration weighted PageRank over the role service graph — which
    node is the hub; fixed unrolled iterations so the oracle mirrors."""
    from ..operators.templates import pagerank_iterations, service_graph_edges

    edges = service_graph_edges(_routed(spark, sf_dir), order_cols=["turn_rn"])
    return pagerank_iterations(edges, n_iter=3)


def q_events_seasonal(spark, sf_dir):
    """Hour-of-day seasonal baseline + per-day deviation per event type."""
    from ..operators.timeseries import seasonal_baseline

    return seasonal_baseline(_events(spark, sf_dir))


def q_events_transitions_matrix(spark, sf_dir):
    """User-journey Markov matrix: event_type -> next event_type counts
    and row-normalized probabilities (lag window + hash agg + a window
    over the 25-row count table)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").cast("timestamp"), "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).filter(F.col("src").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("src")
    return counts.select(
        "src", "dst", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


def q_pipeline_quarantine(spark, sf_dir):
    """Dead-letter split over the routed frame: rows failing the content
    invariants (unparsable line, tool call without a status) tagged with
    the first-match reason — plans/dlq.py."""
    from ..plans.dlq import fixture_rules, split_quarantine

    _, bad = split_quarantine(_routed(spark, sf_dir), fixture_rules())
    return bad.select("conv_id", "turn_idx", "error_reason")


def q_ottl_showcase(spark, sf_dir):
    """A projection built entirely from the OTTL function registry."""
    from ..functions.ottl import call

    r = _routed(spark, sf_dir)
    return r.select(
        "conv_id",
        "turn_idx",
        call("Concat", "-", F.col("role"), F.col("tool")).alias("role_tool"),
        call("ToUpperCase", F.col("role")).alias("role_up"),
        call("Substring", F.col("text"), 0, 10).alias("text_head"),
        # long casts: DuckDB length()/year()/hour() are BIGINT
        call("Len", F.col("text")).cast("long").alias("text_len"),
        call("IsMatch", F.col("text"), "^LOG ").alias("is_log"),
        call("UnixMicro", call("TruncateTime", F.col("ts").cast("timestamp"), "hour")).alias("hour_us"),
        call("Year", F.col("ts").cast("timestamp")).cast("long").alias("y"),
        call("Hour", F.col("ts").cast("timestamp")).cast("long").alias("h"),
        call("SHA256", F.col("role")).alias("role_sha"),
        call("Coalesce", F.col("status"), F.lit("none")).alias("status_c"),
    )


def q_ottl_editors(spark, sf_dir):
    """Compiled OTTL statement sequence exercising the editor surface
    (set / conditional replace_pattern / truncate_all / limit /
    delete_matching_keys), mirroring pkg/ottl/e2e/e2e_test.go statement
    chains. Output is engine-neutral: edited map emitted as a sorted k=v
    join."""
    from ..functions.ottl_compiler import apply_statements
    from ..operators.transform import copy_field

    r = _routed(spark, sf_dir).filter(F.col("pattern_id") == "kv")
    r = copy_field(r, "text", "masked")
    r = r.withColumn("kv", F.str_to_map(F.expr("substring(text, 5)"), F.lit(" "), F.lit("=")))
    out = apply_statements(
        r,
        [
            'set(pipeline, "logs")',
            'replace_pattern(masked, "[0-9]+", "#") where status == "err"',
            "truncate_all(kv, 6)",
            "limit(kv, 3)",
            'delete_matching_keys(kv, "^lat")',
        ],
    )
    joined = F.array_join(
        F.sort_array(
            F.transform(F.map_entries(F.col("kv")), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ",",
    )
    return out.select("conv_id", "turn_idx", "pipeline", "masked", joined.alias("kv_edited"))


def q_ottl_editors_full(spark, sf_dir):
    """Round 5: the LAST THREE of the reference's 16 editor factories
    (ottlfuncs/functions.go:11-39) driven from STATEMENT TEXT —
    delete_index under a `where` gate, flatten, stringify_all — closing
    the r4 statement-dispatch gap. Output is engine-neutral (arrays
    joined, stringified map as a sorted k=v CSV)."""
    from ..functions.ottl_compiler import apply_statements

    r = _routed(spark, sf_dir).filter(F.col("pattern_id") == "kv")
    r = (
        r.withColumn("toks", F.split(F.col("text"), " "))
        .withColumn("nest", F.array(F.slice("toks", 1, 2), F.slice("toks", 3, 2)))
        .withColumn(
            "nums",
            F.create_map(
                F.lit("lat"), F.col("latency_ms").cast("long"),
                F.lit("turn"), F.col("turn_idx").cast("long"),
            ),
        )
    )
    out = apply_statements(
        r,
        [
            'delete_index(toks, 0) where status == "err"',
            "flatten(nest)",
            "stringify_all(nums)",
        ],
    )
    nums_csv = F.array_join(
        F.sort_array(
            F.transform(
                F.map_entries(F.col("nums")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
        ",",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.array_join("toks", " ").alias("toks_joined"),
        F.array_join("nest", " ").alias("nest_flat"),
        nums_csv.alias("nums_csv"),
    )


def q_drain_templates(spark, sf_dir):
    from ..operators.templates import drain_templates

    return drain_templates(_routed(spark, sf_dir))


def q_trace_waited_release(spark, sf_dir):
    """groupbytrace WITH wait_duration (processor/groupbytraceprocessor/
    processor.go:25-73): event-time release groups — first buffered turn
    fixes the release at first_ts + 60s, later turns open a new buffer —
    assembled per group. The sequential fold turns out to be fully
    SQL-expressible: the oracle derives each conversation's release-start
    chain with a RECURSIVE CTE (start_{k+1} = min ts ≥ start_k + wait),
    assigns each row to its latest start, and aggregates — so even this
    'stateful' operator is hash-gated, not rows-only."""
    from ..operators.recombine import group_by_trace_waited

    return group_by_trace_waited(_fixture_transcripts(spark, sf_dir), wait_s=60)


def q_k8s_attrs_enrich(spark, sf_dir):
    """k8sattributes dim-table seam over a deterministic pod store derived
    from event ids: priority pod-association (uid rule first, ip rule
    second — a row whose uid is PRESENT but missing from the store stays
    unenriched even when its ip would match, processor
    pod_association.go:20-66), metadata stamping via per-rule broadcast
    joins. Oracle = the same CASE rule-selection + two LEFT JOINs."""
    from ..operators.enrich import k8s_attributes

    e = F.col("event_id")
    facts = _events(spark, sf_dir).select(
        "event_id",
        F.when(
            e % 5 != 0, F.concat(F.lit("uid-"), F.pmod(e, F.lit(40)).cast("string"))
        ).alias("k8s_pod_uid_attr"),
        F.when(
            e % 3 != 0, F.concat(F.lit("10.0.0."), F.pmod(e, F.lit(30)).cast("string"))
        ).alias("k8s_pod_ip"),
    )
    spark_range = spark.range(30)
    pod_dim = spark_range.select(
        F.concat(F.lit("uid-"), F.col("id").cast("string")).alias("pod_uid"),
        F.concat(F.lit("10.0.0."), F.col("id").cast("string")).alias("pod_ip"),
        F.concat(F.lit("ns-"), (F.col("id") % 4).cast("string")).alias("k8s_namespace_name"),
        F.concat(F.lit("pod-"), F.col("id").cast("string")).alias("k8s_pod_name"),
        F.concat(F.lit("node-"), (F.col("id") % 3).cast("string")).alias("k8s_node_name"),
    )
    out = k8s_attributes(
        facts,
        pod_dim,
        associations=[
            [("k8s_pod_uid_attr", "pod_uid")],
            [("k8s_pod_ip", "pod_ip")],
        ],
    )
    return out.select(
        "event_id",
        "k8s_pod_uid_attr",
        "k8s_pod_ip",
        "k8s_namespace_name",
        "k8s_pod_name",
        "k8s_node_name",
    )


def q_drain_tree_templates(spark, sf_dir):
    """The REAL Drain parse tree (fixed depth + similarity threshold,
    processor/drainprocessor/internal/drain/drain.go), distributed as one
    shuffle on the leaf key + per-leaf Arrow fold. No SQL oracle: the
    cluster fold is arrival-order-sensitive by construction (canonical
    order makes it deterministic, but not window-expressible) — gated by
    the sequential-reference equality pytest instead (test_templates.py);
    the driver records the rows-only check."""
    from ..operators.templates import drain_tree_templates

    return drain_tree_templates(_routed(spark, sf_dir), sim_th=0.5)


def q_template_window_diff(spark, sf_dir):
    """Template-population diff between the morning (reference) and
    afternoon (current) halves of the routed transcripts: which masked
    log shapes are new / gone / growing — the after-the-deploy incident
    primitive (drift.window_diff over mask_template keys)."""
    from ..operators.drift import window_diff
    from ..operators.templates import mask_template

    r = _routed(spark, sf_dir)
    masked = r.select(mask_template(F.col("text")).alias("template"), F.col("ts"))
    return window_diff(masked, ["template"], F.hour(F.col("ts")) >= 12, min_total=3)


def q_cardinality_guard(spark, sf_dir):
    from ..operators.templates import cardinality_guard

    return cardinality_guard(_routed(spark, sf_dir), ["conv_id", "role", "tool"], limit=100)


def q_metrics_generation(spark, sf_dir):
    from ..operators.templates import metrics_generation_ratio

    ev = _events(spark, sf_dir).withColumn(
        "hour_start",
        (F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600) * 3600).cast("bigint"),
    )
    return metrics_generation_ratio(ev, ["hour_start"], "event_type", "value", "purchase", "view")


def q_active_users_hourly(spark, sf_dir):
    """grafanacloudconnector host-metrics shape: distinct active entities
    per time window. Exact count for the oracle gate;
    approx_count_distinct (HLL) is the constant-memory 100 TB path (same
    swap as cardinality_guard)."""
    ev = _events(spark, sf_dir).withColumn(
        "hour_start",
        (F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600) * 3600).cast("bigint"),
    )
    return ev.groupBy("hour_start").agg(F.count_distinct("user_id").alias("active_users"))


def q_anomaly_scores(spark, sf_dir):
    """Robust per-type outlier scoring over the events value stream (the
    isolationforest-processor-shaped hygiene stage, deterministic form)."""
    from ..operators.templates import robust_anomaly_score

    out = robust_anomaly_score(_events(spark, sf_dir), ["event_type"], "value")
    return out.select("event_id", "event_type", "anomaly_score", "is_anomaly")


_IFOREST_SAMPLE = "/root/testdata/sf0.001/events.parquet"
_IFOREST_EXPRS = ["CAST(value AS DOUBLE)", "CAST(hour(ts) AS DOUBLE)"]
_iforest_model = None


def _iforest() -> "object":
    """The shared (query-side AND oracle-side) isolation-forest model:
    trained once per process from a deterministic sample of the fixed
    reference window (sf0.001 events — the batch analogue of the
    processor's sliding window), so both engines score with the
    bit-identical compiled tree."""
    global _iforest_model
    if _iforest_model is None:
        from ..operators.iforest import sample_features_from_parquet, train_isolation_forest

        samples = sample_features_from_parquet(
            _IFOREST_SAMPLE, _IFOREST_EXPRS, limit=2048, order_by="event_id"
        )
        _iforest_model = train_isolation_forest(
            samples, num_trees=15, sample_size=64, seed=7
        )
    return _iforest_model


def q_isolation_forest(spark, sf_dir):
    """Real isolation-forest scoring (Liu et al., the reference's
    isolationforestprocessor algorithm) over (value, hour) features —
    driver-trained trees compiled to one codegen projection."""
    from ..operators.iforest import isolation_forest_score

    ev = _events(spark, sf_dir).withColumn(
        "_f0", F.col("value").cast("double")
    ).withColumn("_f1", F.hour(F.col("ts")).cast("double"))
    out = isolation_forest_score(ev, ["_f0", "_f1"], _iforest(), threshold=0.6)
    return out.select("event_id", "if_score", "is_anomaly")


def q_service_graph(spark, sf_dir):
    from ..operators.templates import service_graph_edges

    return service_graph_edges(_routed(spark, sf_dir), order_cols=["turn_rn"])


def q_uri_parse(spark, sf_dir):
    """uri_parser over a synthesized URI column (documents table)."""
    from ..operators.parse import uri_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        ).alias("uri"),
    )
    return uri_parser(docs, "uri").select("doc_id", "uri_scheme", "uri_host", "uri_path", "uri_query")


def q_csv_parse(spark, sf_dir):
    """csv_parser over a synthesized delimited column."""
    from ..operators.parse import csv_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat_ws(",", F.col("doc_id").cast("string"), F.col("lang"), F.col("n_chars").cast("string")).alias("line"),
    )
    out = csv_parser(docs, "line", "id BIGINT, lang STRING, n BIGINT")
    return out.select(
        "doc_id",
        F.col("parsed_csv.id").alias("id"),
        F.col("parsed_csv.lang").alias("lang"),
        F.col("parsed_csv.n").alias("n"),
    )


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_csv_parse_dynamic(spark, sf_dir):
    """csv_parser with a PER-ENTRY dynamic header (column order varies by
    row); output is the sorted k=v view so the parse is header-order
    independent. Oracle = ground-truth reconstruction from the synthesis."""
    from ..operators.parse import csv_parser_dynamic

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("id,lang,n")).otherwise(F.lit("lang,id,n")).alias("hdr"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws(",", F.col("doc_id").cast("string"), F.col("lang"), F.col("n_chars").cast("string")),
        )
        .otherwise(
            F.concat_ws(",", F.col("lang"), F.col("doc_id").cast("string"), F.col("n_chars").cast("string"))
        )
        .alias("line"),
    )
    parsed = csv_parser_dynamic(docs, "line", "hdr")
    joined = F.array_join(
        F.sort_array(
            F.transform(F.map_entries(F.col("parsed_csv")), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ",",
    )
    return parsed.select("doc_id", joined.alias("kv_sorted"))


def q_jsonarray_parse(spark, sf_dir):
    """jsonarray_parser over a synthesized JSON-array column."""
    from ..operators.parse import jsonarray_parser

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit('["'), F.col("lang"), F.lit('", "'), F.col("source"),
            F.lit('", "'), F.col("n_chars").cast("string"), F.lit('"]'),
        ).alias("line"),
    )
    out = jsonarray_parser(docs, "line")
    return out.select(
        "doc_id",
        F.element_at(F.col("parsed_array"), 1).alias("a0"),
        F.element_at(F.col("parsed_array"), 2).alias("a1"),
        F.element_at(F.col("parsed_array"), 3).cast("bigint").alias("a2"),
        F.size(F.col("parsed_array")).cast("bigint").alias("n_elems"),
    )


def q_sanitize_utf8(spark, sf_dir):
    """sanitize_utf8 over binary payloads with injected invalid bytes; the
    oracle constructs the EXPECTED repaired text independently (ground
    truth), not a reimplementation."""
    from ..operators.parse import sanitize_utf8

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring(F.col("text"), 1, 20).alias("head")
    )
    blob = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(F.encode(F.col("head"), "UTF-8"), F.lit(b"\xff\xfe"), F.encode(F.lit(" tail"), "UTF-8")),
    ).otherwise(F.encode(F.col("head"), "UTF-8"))
    out = sanitize_utf8(docs.withColumn("payload", blob), "payload", dest="sanitized")
    return out.select("doc_id", "utf8_valid", "sanitized")


def q_syslog_rfc5424(spark, sf_dir):
    from ..operators.parse import syslog_rfc5424_parser

    docs = _docs(spark, sf_dir)
    msg = F.substring(F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""), 1, 40)
    sd = F.when(F.col("doc_id") % 3 == 0, F.lit("-")).otherwise(
        F.concat(
            F.lit('[ex@32473 lang="'), F.col("lang"), F.lit('" n="'),
            F.col("n_chars").cast("string"), F.lit('"]'),
        )
    )
    line = F.concat(
        F.lit("<"), (F.col("doc_id") % 192).cast("string"), F.lit(">1 2024-01-02T03:04:05.000Z host"),
        (F.col("doc_id") % 5).cast("string"), F.lit(" app-"), F.col("source"), F.lit(" "),
        (F.lit(1000) + F.col("doc_id") % 100).cast("string"), F.lit(" ID"),
        (F.col("doc_id") % 10).cast("string"), F.lit(" "), sd, F.lit(" "), msg,
    )
    out = syslog_rfc5424_parser(docs.select("doc_id", line.alias("line")), "line")
    return out.select(
        "doc_id", "syslog_severity", "syslog_facility", "syslog_version", "syslog_ts",
        "syslog_hostname", "syslog_appname", "syslog_procid", "syslog_msgid",
        "syslog_sd_id", "syslog_sd_params", "syslog_message",
    )


def q_syslog_rfc3164(spark, sf_dir):
    from ..operators.parse import syslog_rfc3164_parser

    docs = _docs(spark, sf_dir)
    msg = F.substring(F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""), 1, 40)
    day = (F.lit(10) + F.col("doc_id") % 20).cast("string")
    base = F.concat(
        F.lit("<"), (F.col("doc_id") % 192).cast("string"), F.lit(">Jan "), day,
        F.lit(" 03:04:05 host"), (F.col("doc_id") % 5).cast("string"), F.lit(" proc"),
        (F.col("doc_id") % 4).cast("string"),
    )
    line = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(base, F.lit("["), (F.col("doc_id") % 1000).cast("string"), F.lit("]: "), msg),
    ).otherwise(F.concat(base, F.lit(": "), msg))
    out = syslog_rfc3164_parser(docs.select("doc_id", line.alias("line")), "line")
    return out.select(
        "doc_id", "syslog_severity", "syslog_facility", "syslog_ts", "syslog_hostname",
        "syslog_tag", "syslog_pid", "syslog_message",
    )


def q_syslog_octet_frames(spark, sf_dir):
    """Octet-counting framing: two frames per synthesized payload; the
    oracle emits the known frames directly (ground truth for the splitter)."""
    from ..operators.parse import split_octet_frames

    docs = _docs(spark, sf_dir)
    f1 = F.concat(F.lit("<34>1 2024-01-02T03:04:05Z h a p m - hello "), F.col("doc_id").cast("string"))
    f2 = F.concat(F.lit("second "), F.col("lang"))
    line = F.concat(
        F.length(f1).cast("string"), F.lit(" "), f1,
        F.length(f2).cast("string"), F.lit(" "), f2,
    )
    out = split_octet_frames(docs.select("doc_id", line.alias("payload")), "payload")
    return out.select("doc_id", "frame_idx", "frame")


def q_time_parse(spark, sf_dir):
    """time_parser over the syslog rows' extracted ISO timestamps — string
    layout → typed timestamp → epoch micros (engine-neutral output)."""
    from ..operators.parse import time_parser

    r = _routed(spark, sf_dir).filter(F.col("pattern_id") == "syslog")
    out = time_parser(r, "log_ts")
    return out.select(
        "conv_id", "turn_idx", F.unix_micros(F.col("event_ts")).alias("event_ts_us")
    )


def q_xml_parse(spark, sf_dir):
    """xml_parser + GetXML over synthesized XML (Spark 4 native from_xml /
    xpath). The oracle reconstructs the expected fields from the synthesis
    inputs — ground truth, since DuckDB has no XML engine."""
    from ..operators.parse import xml_parser

    docs = _docs(spark, sf_dir)
    body = F.trim(F.substring(F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""), 1, 20))
    xml = F.concat(
        F.lit('<doc lang="'), F.col("lang"), F.lit('"><src>'), F.col("source"),
        F.lit("</src><n>"), F.col("n_chars").cast("string"), F.lit("</n><body>"),
        body, F.lit("</body></doc>"),
    )
    parsed = xml_parser(
        docs.select("doc_id", xml.alias("xml")),
        "xml",
        "struct<_lang:string, src:string, n:bigint, body:string>",
    )
    return parsed.select(
        "doc_id",
        F.col("parsed_xml._lang").alias("xml_lang"),
        F.col("parsed_xml.src").alias("xml_src"),
        F.col("parsed_xml.n").alias("xml_n"),
        F.col("parsed_xml.body").alias("xml_body"),
        F.xpath_long(F.col("xml"), F.lit("/doc/n")).alias("xpath_n"),
    )


def q_traceparent_parse(spark, sf_dir):
    """stanza trace_parser over synthesized W3C traceparent headers (1-in-7
    malformed to exercise the on_error -> null path)."""
    from ..operators.parse import trace_parser

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit("garbage")).otherwise(
            F.concat(
                F.lit("00-"), F.md5(F.col("text")), F.lit("-"),
                F.substring(F.md5(F.col("text")), 1, 16), F.lit("-0"),
                (F.col("doc_id") % 2).cast("string"),
            )
        ).alias("tp"),
    )
    out = trace_parser(docs, "tp")
    return out.select("doc_id", "trace_id", "span_id", "trace_flags", "trace_sampled")


def q_adaptive_head_sample(spark, sf_dir):
    """Volume-adaptive per-key cap: at most 500 rows per pattern_id,
    deterministic portable selection (dynamic-sampling shape)."""
    from ..operators.filter import adaptive_head_sampler

    out = adaptive_head_sampler(
        _routed(spark, sf_dir), ["pattern_id"], 500, tiebreak_cols=["conv_id", "turn_idx"]
    )
    return out.select("conv_id", "turn_idx", "pattern_id")


def q_metrics_label_merge(spark, sf_dir):
    """aggregate_label_values + toggle_scalar_data_type, then the downstream
    hash aggregation that realizes the label merge."""
    from ..operators.aggregate import metrics_transform_rows

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("metric_name"),
        F.create_map(F.lit("user"), (F.col("user_id") % 10).cast("string")).alias("labels"),
        "value",
    )
    transforms = [
        {
            "include": "click",
            "action": "update",
            "operations": [
                {"action": "aggregate_label_values", "label": "user", "values": ["1", "2", "3"], "new_value": "low"}
            ],
        },
        {"include": "view", "action": "update", "operations": [{"action": "toggle_scalar_data_type"}]},
    ]
    out = metrics_transform_rows(ev, transforms)
    return (
        out.withColumn("user_v", F.element_at(F.col("labels"), "user"))
        .groupBy("metric_name", "user_v")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"))
    )


def q_kv_parse_map(spark, sf_dir):
    """key_value_parser (str_to_map) over the kv-pattern transcript rows;
    output = sorted 'k=v' join so map ordering is engine-neutral."""
    from ..operators.parse import key_value_parser

    r = _routed(spark, sf_dir).filter(F.col("pattern_id") == "kv")
    body = r.withColumn("kv_body", F.expr("substring(text, 5)"))
    parsed = key_value_parser(body, "kv_body", dest="kv")
    joined = F.array_join(
        F.sort_array(
            F.transform(F.map_entries(F.col("kv")), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ",",
    )
    return parsed.select("conv_id", "turn_idx", joined.alias("kv_sorted"))


def q_genai_normalize(spark, sf_dir):
    from ..operators.transform import genai_normalize

    r = _routed(spark, sf_dir).filter(F.col("pattern_id") == "json")
    out = genai_normalize(r)
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("`gen_ai.request.model`").alias("gen_ai_request_model"),
        F.col("`gen_ai.usage.output_tokens`").alias("gen_ai_usage_output_tokens"),
        F.col("`gen_ai.operation.name`").alias("gen_ai_operation_name"),
        F.col("`gen_ai.tool.name`").alias("gen_ai_tool_name"),
    )


def q_severity_http(spark, sf_dir):
    """severity_parser with the HTTP-class presets (2xx..5xx expand to
    numeric ranges, severity_builder.go:95-105,200-226) plus a custom
    alias, over synthesized status codes."""
    from ..operators.parse import severity_parser

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit("oops"))
        .otherwise((200 + F.col("doc_id") % 400).cast("string"))
        .alias("code"),
    )
    out = severity_parser(
        docs, "code",
        mapping={"info": ["2xx"], "warn": ["3xx"], "error": ["4xx", "oops"], "fatal": ["5xx"]},
    )
    return out.select("doc_id", "severity_text", "severity_number")


def q_filter_match(spark, sf_dir):
    """filtermatcher include/exclude pair as a config-driven gate
    (internal/filter/filterconfig config.go:23-41, filtermatcher.go):
    include = regexp role match, exclude = strict err status."""
    from ..operators.filter import filter_match

    r = _routed(spark, sf_dir)
    out = filter_match(
        r,
        include={"match_type": "regexp", "attributes": [{"key": "role", "value": "^(user|assistant)$"}]},
        exclude={"match_type": "strict", "attributes": [{"key": "status", "value": "err"}]},
    )
    return out.select("conv_id", "turn_idx", "role", "route_id")


def q_otlpjson_parse(spark, sf_dir):
    """otlpjsonconnector: OTLP/JSON payloads → one row per logRecord
    (connector/otlpjsonconnector/logs.go:41-80). Payloads are synthesized
    from documents (with a malformed stratum that must drop, mirroring the
    connector's error path); the oracle reconstructs the expected rows
    from the same synthesis inputs — ground truth for the unfold."""
    from ..operators.parse import otlp_json_logs

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    msg = F.substring(F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""), 1, 30)
    lvl = F.element_at(
        F.array(F.lit("DEBUG"), F.lit("INFO"), F.lit("WARN"), F.lit("ERROR")),
        (did % 4 + 1).cast("int"),
    )
    payload = F.when(did % 13 == 0, F.lit("not otlp")).otherwise(
        F.concat(
            F.lit('{"resourceLogs":[{"resource":{"attributes":[{"key":"source","value":{"stringValue":"'),
            F.col("source"),
            F.lit('"}}]},"scopeLogs":[{"scope":{"name":"scope'),
            (did % 3).cast("string"),
            F.lit('"},"logRecords":[{"timeUnixNano":"'),
            (did * 1000).cast("string"),
            F.lit('","severityText":"'), lvl,
            F.lit('","severityNumber":9,"body":{"stringValue":"'), msg,
            F.lit('"},"attributes":[{"key":"n","value":{"intValue":"'),
            F.col("n_chars").cast("string"),
            F.lit('"}}]}]}]}]}'),
        )
    )
    out = otlp_json_logs(docs.select("doc_id", payload.alias("payload")), "payload")
    return out.select(
        "doc_id",
        F.element_at(F.col("resource_attrs"), "source").alias("resource_source"),
        "scope_name",
        "time_unix_nano",
        "severity_text",
        "severity_number",
        "body",
        F.element_at(F.col("log_attrs"), "n").alias("attr_n"),
    )


def q_otlpjson_traces(spark, sf_dir):
    """otlpjsonconnector traces path: OTLP/JSON span payloads → one row per
    span (traces.go:43-80; envelope gate factory.go:21). Same synthesized-
    payload + reconstructing-oracle pattern as the logs variant."""
    from ..operators.parse import otlp_json_traces

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    h = F.md5(did.cast("string"))
    payload = F.when(did % 13 == 0, F.lit("not otlp")).otherwise(
        F.concat(
            F.lit('{"resourceSpans":[{"resource":{"attributes":[{"key":"source","value":{"stringValue":"'),
            F.col("source"),
            F.lit('"}}]},"scopeSpans":[{"scope":{"name":"scope'),
            (did % 3).cast("string"),
            F.lit('"},"spans":[{"traceId":"'), h,
            F.lit('","spanId":"'), F.substring(h, 1, 16),
            F.lit('","parentSpanId":"","name":"op-'),
            (did % 7).cast("string"),
            F.lit('","kind":2,"startTimeUnixNano":"'),
            (did * 1000).cast("string"),
            F.lit('","endTimeUnixNano":"'),
            (did * 1000 + 500).cast("string"),
            F.lit('","attributes":[{"key":"n","value":{"intValue":"'),
            F.col("n_chars").cast("string"),
            F.lit('"}}],"status":{"code":'),
            (did % 3).cast("string"),
            F.lit("}}]}]}]}"),
        )
    )
    out = otlp_json_traces(docs.select("doc_id", payload.alias("payload")), "payload")
    return out.select(
        "doc_id",
        F.element_at(F.col("resource_attrs"), "source").alias("resource_source"),
        "scope_name",
        "trace_id",
        "span_id",
        "span_name",
        "span_kind",
        "start_unix_nano",
        "end_unix_nano",
        F.element_at(F.col("span_attrs"), "n").alias("attr_n"),
        "status_code",
    )


def q_otlpjson_metrics(spark, sf_dir):
    """otlpjsonconnector metrics path: one row per datapoint; doc_id%3 picks
    gauge(asInt) / sum(asDouble) / histogram so every branch of the unfold
    and the int-vs-double value split is exercised (metrics.go:43-80)."""
    from ..operators.parse import otlp_json_metrics

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    nstr = F.col("n_chars").cast("string")
    gauge = F.concat(
        F.lit('"gauge":{"dataPoints":[{"timeUnixNano":"'),
        (did * 1000).cast("string"),
        F.lit('","asInt":"'), nstr, F.lit('"}]}'),
    )
    sum_ = F.concat(
        F.lit('"sum":{"isMonotonic":true,"aggregationTemporality":2,"dataPoints":[{"timeUnixNano":"'),
        (did * 1000).cast("string"),
        F.lit('","asDouble":'), nstr, F.lit(".5}]}"),
    )
    hist = F.concat(
        F.lit('"histogram":{"aggregationTemporality":2,"dataPoints":[{"timeUnixNano":"'),
        (did * 1000).cast("string"),
        F.lit('","count":"5","sum":'), nstr,
        F.lit('.5,"bucketCounts":["1","4"],"explicitBounds":[0.5]}]}'),
    )
    body = F.when(did % 3 == 0, gauge).when(did % 3 == 1, sum_).otherwise(hist)
    payload = F.when(did % 13 == 0, F.lit("not otlp")).otherwise(
        F.concat(
            F.lit('{"resourceMetrics":[{"resource":{"attributes":[{"key":"source","value":{"stringValue":"'),
            F.col("source"),
            F.lit('"}}]},"scopeMetrics":[{"scope":{"name":"scope'),
            (did % 3).cast("string"),
            F.lit('"},"metrics":[{"name":"m'),
            (did % 4).cast("string"),
            F.lit('","unit":"1",'),
            body,
            F.lit("}]}]}]}"),
        )
    )
    out = otlp_json_metrics(docs.select("doc_id", payload.alias("payload")), "payload")
    return out.select(
        "doc_id",
        F.element_at(F.col("resource_attrs"), "source").alias("resource_source"),
        "scope_name",
        "metric_name",
        "metric_unit",
        "metric_type",
        "time_unix_nano",
        "value_int",
        "value_double",
        "histogram_count",
        "histogram_sum",
        "bucket_counts",
        "explicit_bounds",
    )


def q_ottl_lambdas(spark, sf_dir):
    """OTTL lambda-expression statements (`(i, v) => body`) compiled to
    Spark HOFs — Filter/MapEach/Any/All/Reduce over the token array of each
    document (pkg/ottl/lambda.go:15-60, grammar.go:232,580, e2e cases
    e2e_test.go:1629-1699). Index formals are 0-based on both sides."""
    from ..functions.ottl_compiler import apply_statements

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias("toks"),
    )
    stmts = [
        'set(long_toks, Filter(toks, (_, v) => Len(v) > 4))',
        'set(idx_toks, MapEach(toks, (i, v) => Concat("", String(i), ":", v)))',
        'set(has_long, Any(toks, (_, v) => Len(v) > 5))',
        'set(all_short, All(toks, (_, v) => Len(v) < 6))',
        'set(len_sum, Reduce(toks, 0, (acc, v) => acc + Len(v)))',
    ]
    out = apply_statements(docs, stmts)
    return out.select(
        "doc_id",
        F.array_join("long_toks", " ").alias("long_toks_s"),
        F.array_join(F.slice("idx_toks", 1, 8), " ").alias("idx_toks_s"),
        "has_long",
        "all_short",
        F.col("len_sum").cast("bigint").alias("len_sum"),
    )


_GROK_LINE_PAT = (
    r"%{TIMESTAMP_ISO8601:ts} \[%{LOGLEVEL:lvl}\] %{IPORHOST:host} "
    r"%{WORD:verb} %{APIPATH:path} latency=%{INT:latency_ms:int} %{GREEDYDATA:msg}"
)
_GROK_LINE_DEFS = ["APIPATH=/api/v[0-9]+/[a-z0-9]+"]


def q_grok_parse(spark, sf_dir):
    """ExtractGrokPatterns dialect over synthesized access-log lines:
    library patterns (TIMESTAMP_ISO8601, LOGLEVEL, IPORHOST, WORD, INT,
    GREEDYDATA), a custom NAME=regex definition, a typed :int capture and a
    deliberate no-match stratum (doc_id%7==0). Oracle = the same compiled
    portable regex under DuckDB RE2 (func_extract_grok_patterns.go:39-130)."""
    from ..operators.grok import grok_parser

    docs = _docs(spark, sf_dir)
    msg = F.substring(F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""), 1, 30)
    lvl = F.element_at(
        F.array(F.lit("info"), F.lit("WARN"), F.lit("error"), F.lit("DEBUG")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    line = F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("garbage "), msg)).otherwise(
        F.concat(
            F.lit("2024-03-04T05:06:0"), (F.col("doc_id") % 10).cast("string"),
            F.lit(" ["), lvl, F.lit("] h"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.com GET /api/v"), (F.col("doc_id") % 3).cast("string"),
            F.lit("/"), F.col("source"), F.lit(" latency="),
            F.col("n_chars").cast("string"), F.lit(" "), msg,
        )
    )
    out = grok_parser(
        docs.select("doc_id", line.alias("line")), "line",
        _GROK_LINE_PAT, definitions=_GROK_LINE_DEFS,
    )
    return out.select("doc_id", "ts", "lvl", "host", "verb", "path", "latency_ms", "msg")


def q_grok_apache(spark, sf_dir):
    """COMBINEDAPACHELOG round-trip: build a combined access-log line from
    doc_id-derived fields, grok-parse it, and the parsed fields must equal
    the constructors (the oracle recomputes them directly — no regex needed
    on the DuckDB side). Exercises the full composite pattern chain
    (IPORHOST/USER/HTTPDATE/QS) through the native single-projection path."""
    from ..operators.grok import grok_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    ip = F.concat(
        F.lit("10."), s(d % 256), F.lit("."), s(F.expr("(doc_id div 7) % 256")), F.lit("."), s(d % 254 + 1)
    )
    auth = F.concat(F.lit("u"), s(d % 50))
    ts = F.concat(F.lit("01/Jan/2024:00:00:0"), s(d % 10), F.lit(" +0000"))
    verb = F.when(d % 3 == 0, F.lit("GET")).when(d % 3 == 1, F.lit("POST")).otherwise(F.lit("PUT"))
    request = F.concat(F.lit("/api/"), F.col("source"), F.lit("/"), s(d))
    response = (d % 4) * 100 + 200
    nbytes = (d * 37) % 100000
    referrer = F.concat(F.lit('"http://ref.example/'), s(d % 20), F.lit('"'))
    agent = F.concat(F.lit('"UA/'), s(d % 10), F.lit('.0"'))
    line = F.concat_ws(
        " ",
        ip,
        F.lit("-"),
        auth,
        F.concat(F.lit("["), ts, F.lit("]")),
        F.concat(F.lit('"'), verb, F.lit(" "), request, F.lit(" HTTP/1.1"), F.lit('"')),
        s(response),
        s(nbytes),
        referrer,
        agent,
    )
    out = grok_parser(docs.select("doc_id", line.alias("line")), "line", "%{COMBINEDAPACHELOG}")
    return out.select(
        "doc_id",
        "clientip",
        "auth",
        "verb",
        "request",
        F.expr("try_cast(response AS bigint)").alias("response"),
        F.expr("try_cast(bytes AS bigint)").alias("bytes"),
        "referrer",
        "agent",
    )


# ---------------------------------------------------------------------------
# time-series operators (operators/timeseries.py)
# ---------------------------------------------------------------------------


def q_asof_enrich(spark, sf_dir):
    """As-of join: each error event picks up the value of the user's most
    recent purchase at-or-before it (union+window plan, zero join ops;
    oracle = DuckDB ASOF LEFT JOIN)."""
    from ..operators.timeseries import asof_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(left, right, ["user_id"], "ts", ["purchase_value"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("asof_ts").cast("timestamp")).alias("asof_ts_us"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


def q_session_stats(spark, sf_dir):
    from ..operators.timeseries import session_stats

    return session_stats(_events(spark, sf_dir), ["user_id"], "ts", gap_s=1800, order_cols=["event_id"])


def q_rollup_gapfill(spark, sf_dir):
    from ..operators.timeseries import rollup_gapfill

    return rollup_gapfill(_events(spark, sf_dir), ["event_type"], "ts", bucket_s=3600, value_col="value")


def q_group_quantiles(spark, sf_dir):
    from ..operators.timeseries import group_quantiles

    return group_quantiles(_events(spark, sf_dir), ["event_type"], "value", [0.5, 0.9, 0.99])


def q_rolling_stats(spark, sf_dir):
    """Per-user trailing-1h rolling count/sum/mean/std of value + z-score
    of the current event vs its own trailing window (one RANGE frame)."""
    from ..operators.timeseries import rolling_window_stats

    return rolling_window_stats(
        _events(spark, sf_dir), ["user_id"], "ts", "value", window_s=3600
    ).select(
        "event_id", "user_id", "n_window", "sum_window", "mean_window",
        "std_window", "z_window",
    )


def q_error_transitions(spark, sf_dir):
    """Alert open/close edges per user: the is-error signal's rising and
    falling transitions under (ts, event_id) order — per-event noise
    collapses to state changes."""
    from ..operators.timeseries import threshold_transitions

    out = threshold_transitions(
        _events(spark, sf_dir),
        ["user_id"],
        ["ts", "event_id"],
        F.col("event_type") == "error",
    )
    return out.select("user_id", "event_id", "edge")


def q_range_burst(spark, sf_dir):
    """Events within ±300 s of each error event for the same user, counted
    via the banded equi-join (3 probe buckets; oracle = inequality join)."""
    from ..operators.timeseries import range_join_buckets

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "error")
    return range_join_buckets(left, ev, ["user_id"], "ts", window_s=300)


# ---------------------------------------------------------------------------
# span-shaped operators (operators/spans.py)
# ---------------------------------------------------------------------------


def _span_frame(spark, sf_dir):
    """Deterministic span-shaped view over events: db spans with literals
    varying per event so digesting has something to collapse."""
    ev = _events(spark, sf_dir)
    d = F.col("event_id")
    sys_col = (
        F.when(d % 4 == 0, F.lit("mysql"))
        .when(d % 4 == 1, F.lit("postgresql"))
        .when(d % 4 == 2, F.lit("mongodb"))
        .otherwise(F.lit("redis"))  # not in the default allowlist → filtered
    )
    stmt = F.concat(
        F.lit("SELECT c FROM orders WHERE user_id = "),
        F.col("user_id").cast("string"),
        F.lit(" AND tag = 'tag"),
        (d % 7).cast("string"),
        F.lit("' AND id IN ("),
        d.cast("string"),
        F.lit(", "),
        (d + 1).cast("string"),
        F.lit(")"),
    )
    return ev.select(
        "event_id",
        "user_id",
        sys_col.alias("db_system"),
        stmt.alias("db_statement"),
        (F.col("value") * 10).alias("duration_ms"),
        F.lit("client").alias("span_kind"),
    )


_SPAN_FRAME_SQL = """
SELECT event_id, user_id,
       CASE event_id % 4 WHEN 0 THEN 'mysql' WHEN 1 THEN 'postgresql'
                         WHEN 2 THEN 'mongodb' ELSE 'redis' END AS db_system,
       'SELECT c FROM orders WHERE user_id = ' || CAST(user_id AS VARCHAR)
         || ' AND tag = ''tag' || CAST(event_id % 7 AS VARCHAR)
         || ''' AND id IN (' || CAST(event_id AS VARCHAR) || ', '
         || CAST(event_id + 1 AS VARCHAR) || ')' AS db_statement,
       value * 10 AS duration_ms
FROM events"""


def q_slow_sql(spark, sf_dir):
    from ..operators.spans import slow_sql_logs

    out = slow_sql_logs(_span_frame(spark, sf_dir), threshold_ms=500.0, dims=["event_id", "user_id"])
    return out.select(
        "event_id", "user_id", "db_system", "db_statement", F.round("duration_ms", 6).alias("duration_ms")
    )


def q_sql_digest(spark, sf_dir):
    from ..operators.spans import slow_sql_logs, sql_digest

    slow = slow_sql_logs(_span_frame(spark, sf_dir), threshold_ms=100.0)
    return sql_digest(slow, dims=["db_system"])


def q_counter_reset(spark, sf_dir):
    """Sawtooth → monotone cumulative: per user the raw `value` stream
    resets whenever it drops; the adjusted series adds the pre-reset
    value to every later point (true-reset rebase)."""
    from ..operators.spans import counter_reset_adjust

    out = counter_reset_adjust(
        _events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value", "adjusted"
    )
    return out.select("event_id", "user_id", "adjusted")


def q_span_pruning(spark, sf_dir):
    from ..operators.spans import span_pruning

    spans = _span_frame(spark, sf_dir)
    return span_pruning(spans, ["user_id", "db_system"], "duration_ms", "event_id", min_spans=5)


def q_journald_parse(spark, sf_dir):
    """journald input: synthesize `journalctl -o json` lines from events
    (deterministic, mirrored in the oracle), then one from_json projection."""
    from ..operators.parse import parse_journald

    e = _events(spark, sf_dir)
    line = F.concat(
        F.lit('{"MESSAGE":"'), F.col("event_type"), F.lit(" uid="), F.col("user_id").cast("string"),
        F.lit('","PRIORITY":"'), (F.col("event_id") % 8).cast("string"),
        F.lit('","__REALTIME_TIMESTAMP":"'),
        F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
        F.lit('","_HOSTNAME":"host-'), (F.col("user_id") % 4).cast("string"),
        F.lit('","_SYSTEMD_UNIT":"svc-'), (F.col("user_id") % 3).cast("string"),
        F.lit('.service"}'),
    )
    out = parse_journald(e.select("event_id", line.alias("body")), "body")
    return out.select(
        "event_id", "jd_body", "jd_priority", "jd_severity", "jd_ts", "jd_hostname", "jd_unit"
    )


def q_resource_detect(spark, sf_dir):
    """resourcedetection env+system detectors with an injected environment
    (driver-side detection -> literal-column stamp; deterministic)."""
    from ..operators.enrich import resource_detection

    e = _events(spark, sf_dir)
    out = resource_detection(
        e,
        detectors=("env", "system"),
        env={
            "OTEL_RESOURCE_ATTRIBUTES": "service.name=transcripts,deployment.environment=bench",
            "HOSTNAME": "spark-host-0",
        },
        extra={"service.version": "1.0.0"},
    )
    return out.select(
        "event_id", "service_name", "deployment_environment", "host_name", "os_type", "service_version"
    )


def _trace_tree_frame(spark, sf_dir):
    """Deterministic nested-span view over events for the coralogix-analogue
    tree operators: per user one root span whose events become sequential
    non-overlapping children (800 ns spans, 200 ns gaps, the root extends
    100 ns past the last child), every 5th child a server-kind span so the
    transactions walk opens sub-roots."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    return _events(spark, sf_dir).select(
        F.concat(F.lit("tr-"), F.col("user_id").cast("string")).alias("trace_id"),
        F.concat(F.lit("s"), F.lpad(rn.cast("string"), 6, "0")).alias("span_id"),
        F.when(rn == 1, F.lit(None).cast("string")).otherwise(F.lit("s000001")).alias("parent_span_id"),
        F.col("event_type").alias("name"),
        F.when(rn % 5 == 0, F.lit("server")).otherwise(F.lit("client")).alias("kind"),
        F.when(rn == 1, F.lit(0)).otherwise(1000 * (rn - 1)).cast("long").alias("start_ns"),
        F.when(rn == 1, 1000 * (n - 1) + 900).otherwise(1000 * (rn - 1) + 800).cast("long").alias("end_ns"),
    )


def q_trace_transactions(spark, sf_dir):
    """coralogix transactions: stamp the transaction-root name down the tree,
    server-kind spans open a new transaction (trasactions.go:46)."""
    from ..operators.trace_tree import transaction_attributes

    out = transaction_attributes(_trace_tree_frame(spark, sf_dir))
    return out.select(
        "trace_id",
        "span_id",
        F.col("transaction").alias("tx_name"),
        F.col("transaction_root").alias("tx_root"),
    )


def q_trace_critical_path(spark, sf_dir):
    """CRISP critical-path walk (critical_path.go:90): exclusive/inclusive
    critical-path nanoseconds per span. The fixture tree is closed-form:
    children own their 800 ns; the root owns the leading 1000 ns, the
    (n-2) 200 ns gaps and the trailing 100 ns."""
    from ..operators.trace_tree import critical_path

    out = critical_path(_trace_tree_frame(spark, sf_dir))
    return out.select("trace_id", "span_id", "on_path", "exclusive_ns", "inclusive_ns")


def q_metrics_as_logs(spark, sf_dir):
    """metricsaslogs connector: sum-metric datapoints (per event_type,
    decimal-exact accumulation) rendered as structured log records."""
    from ..operators.aggregate import metrics_as_logs

    m = _events(spark, sf_dir).groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total")
    )
    out = metrics_as_logs(m, "Sum", "events.value.total", value_col="total", unit="1")
    return out.select(
        "event_type",
        "body",
        "metric_name",
        "metric_type",
        "metric_unit",
        "metric_is_monotonic",
        "metric_aggregation_temporality",
        "sum_value",
        "histogram_count",
    )


def q_sumologic(spark, sf_dir):
    """sumologicprocessor: cloud.namespace stamp, OTel→Sumo key translation
    (with target-exists skip), prefix aggregation into a map, severity field."""
    from ..operators.transform import sumologic_process

    ev = _events(spark, sf_dir)
    d = F.col("event_id")
    frame = ev.select(
        "event_id",
        F.when(d % 4 == 0, F.lit("aws_ec2"))
        .when(d % 4 == 1, F.lit("aws_ecs"))
        .when(d % 4 == 2, F.lit("aws_elastic_beanstalk"))
        .otherwise(F.lit("gcp_compute"))
        .alias("cloud.platform"),
        F.concat(F.lit("h-"), F.col("user_id").cast("string")).alias("host.name"),
        F.concat(F.lit("pod-"), (d % 10).cast("string")).alias("k8s.pod.name"),
        F.concat(F.lit("hp-"), F.col("user_id").cast("string")).alias("k8s.pod.hostname"),
        F.col("event_type").alias("pod_app"),
        F.when(d % 3 == 0, F.col("event_type")).alias("pod_phase"),
        (d % 5).cast("int").alias("severity_number"),
    )
    out = sumologic_process(
        frame,
        aggregate_attributes={"pods": "pod_"},
        field_attributes={"severity_number": "loglevel"},
    )
    return out.select(
        "event_id",
        F.col("`cloud.namespace`").alias("cloud_namespace"),
        "host",
        "pod",
        "aws_service",
        # host.name won the `host` rename, so k8s.pod.hostname keeps its key
        F.col("`k8s.pod.hostname`").alias("pod_hostname_kept"),
        F.array_join(
            F.array_sort(
                F.transform(F.map_entries("pods"), lambda e: F.concat(e.key, F.lit("="), e.value))
            ),
            ",",
        ).alias("pods_sorted"),
        "loglevel",
    )


def q_generate_source(spark, sf_dir):
    """stanza generate input: deterministic sequenced static entries."""
    from ..sources.file_source import generate_source

    out = generate_source(
        spark, 100, {"body": "benchmark line", "severity": "INFO"}, static=False
    )
    return out.select("seq", "body", "severity")


# ---------------------------------------------------------------------------
# exporter wire-format renders (operators/render.py)
# ---------------------------------------------------------------------------


def _render_ts(offset_unit_us: int = 1000):
    """Event time plus a per-row microsecond offset (event_id%1000 ×
    `offset_unit_us`) so the RFC3339MICRO fraction exercises 0-6 digits
    and the trailing-zero trim."""
    base = F.unix_micros(F.col("ts").cast("timestamp"))
    return F.timestamp_micros(base + F.pmod(F.col("event_id"), F.lit(1000)) * offset_unit_us)


def q_render_rfc5424(spark, sf_dir):
    """syslogexporter RFC5424 render (rfc5424_formatter.go:26-44): every
    field slot exercised — priority defaults on every 7th row, appname on
    every 3rd, empty message (no leading space) on every 11th, fractional
    timestamps with Go's trailing-zero trim, plus the RFC6587
    octet-counted framing variant."""
    from ..operators.render import render_syslog_rfc5424

    ev = _events(spark, sf_dir).withColumn("_ts", _render_ts())
    eid = F.col("event_id")
    msg = F.when(F.pmod(eid, F.lit(11)) == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("event "), F.col("event_type"), F.lit(" value="),
            F.col("value").cast("decimal(18,2)").cast("string"),
        )
    )
    out = render_syslog_rfc5424(
        ev,
        ts="_ts",
        priority=F.when(F.pmod(eid, F.lit(7)) != 0, F.pmod(eid, F.lit(192)).cast("string")),
        hostname=F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")),
        appname=F.when(F.pmod(eid, F.lit(3)) != 0, F.col("event_type")),
        proc_id=F.col("user_id").cast("string"),
        message=msg,
    )
    framed = render_syslog_rfc5424(
        out,
        ts="_ts",
        priority=F.when(F.pmod(eid, F.lit(7)) != 0, F.pmod(eid, F.lit(192)).cast("string")),
        hostname=F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")),
        appname=F.when(F.pmod(eid, F.lit(3)) != 0, F.col("event_type")),
        proc_id=F.col("user_id").cast("string"),
        message=msg,
        octet_counting=True,
        out="framed",
    )
    return framed.select("event_id", "syslog_line", "framed")


def q_render_rfc3164(spark, sf_dir):
    """syslogexporter RFC3164 render (rfc3164_formatter.go:19-31): space-
    padded `Jan _2` day, appname ':' suffix only when present, app-message
    delimiter only when both are non-empty."""
    from ..operators.render import render_syslog_rfc3164

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    out = render_syslog_rfc3164(
        ev.withColumn("_ts", F.col("ts").cast("timestamp")),
        ts="_ts",
        priority=F.lit(None).cast("string"),
        hostname=F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")),
        appname=F.when(F.pmod(eid, F.lit(3)) != 0, F.col("event_type")),
        message=F.when(F.pmod(eid, F.lit(11)) == 0, F.lit("")).otherwise(
            F.concat(F.lit("value="), F.col("value").cast("decimal(18,2)").cast("string"))
        ),
    )
    return out.select("event_id", "syslog_line")


def q_render_prom_roundtrip(spark, sf_dir):
    """prometheusexporter exposition render, then parsed straight back by
    the prometheusreceiver-side parser — proving the render/parse pair is
    a true inverse on every field."""
    from ..operators.parse import parse_prometheus_text
    from ..operators.render import render_prometheus_text

    ev = _events(spark, sf_dir)
    iv = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("bigint")
    rendered = render_prometheus_text(
        ev,
        name=F.concat(F.col("event_type"), F.lit("_total")),
        labels_csv=F.concat(
            F.lit("code="), F.pmod(F.col("event_id"), F.lit(3)).cast("string"),
            F.lit(",method=get"),
        ),
        value_str=iv,
        ts_ms=ms,
        out="body",
    )
    out = parse_prometheus_text(rendered, "body")
    return out.select(
        "event_id", "body", "pm_name", "pm_labels_csv", "pm_value",
        F.unix_millis(F.col("pm_ts")).alias("pm_ts_ms"),
    )


def q_render_es_bulk(spark, sf_dir):
    """elasticsearchexporter `_bulk` NDJSON pair per document
    (bulkindexer.go:47,217-229): create-action metadata line + document
    line with quoted (escaped) and raw-number fields."""
    from ..operators.render import render_es_bulk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = render_es_bulk(
        docs,
        index=F.concat(F.lit("docs-"), F.col("lang")),
        doc_id=F.col("doc_id").cast("string"),
        doc_fields={
            "source": (F.col("source"), True),
            "n_chars": (F.col("n_chars").cast("string"), False),
            "excerpt": (F.substring(F.col("text"), 1, 40), True),
        },
    )
    return out.select("doc_id", "es_action", "es_doc")


def q_render_splunk_hec(spark, sf_dir):
    """splunkhecexporter HEC event JSON: integer-math epoch.millis time,
    optional index omitted on every 4th row, and the JSON-escaped props
    payload (embedded quotes) as the event body."""
    from ..operators.render import render_splunk_hec

    ev = _events(spark, sf_dir).withColumn("_ts", _render_ts())
    out = render_splunk_hec(
        ev,
        ts="_ts",
        host=F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")),
        source=F.lit("events"),
        sourcetype=F.col("event_type"),
        index=F.when(F.pmod(F.col("event_id"), F.lit(4)) != 0, F.lit("main")),
        event=F.col("props"),
    )
    return out.select("event_id", "hec_event")


def q_parse_carbon(spark, sf_dir):
    """Carbon plaintext lines (carbonreceiver path_parser_helper.go):
    int-vs-float value dispatch, sorted tag CSV, int and fractional unix
    timestamps; every 10th line malformed (double space), every 13th has
    a tag missing '=' -> the whole line NULLs."""
    from ..operators.parse import parse_carbon

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    iv = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    dv = F.col("value").cast("decimal(18,2)").cast("string")
    secs = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000).cast("bigint")
    ts_str = F.when(F.pmod(eid, F.lit(2)) == 0, secs.cast("string")).otherwise(
        F.concat(secs.cast("string"), F.lit(".5"))
    )
    val_str = F.when(F.pmod(eid, F.lit(2)) == 0, iv).otherwise(dv)
    tag_part = F.when(F.pmod(eid, F.lit(13)) == 0, F.lit(";badtag")).otherwise(
        F.concat(F.lit(";env=prod;host=h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string"))
    )
    sep = F.when(F.pmod(eid, F.lit(10)) == 0, F.lit("  ")).otherwise(F.lit(" "))
    body = F.concat(F.col("event_type"), tag_part, sep, val_str, F.lit(" "), ts_str)
    out = parse_carbon(ev.withColumn("body", body), "body")
    return out.select("event_id", "cb_name", "cb_tags_csv", "cb_value", "cb_is_int", "cb_ts_us")


def q_parse_collectd(spark, sf_dir):
    """collectd JSON records (collectdreceiver collectd.go): one datapoint
    per (dsname, dstype, value) triple, `type.type_instance[.dsname]`
    naming with the >1-dsname rule, fractional epoch time."""
    from ..operators.parse import parse_collectd_json

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    iv = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    secs = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000).cast("bigint")
    single = F.pmod(eid, F.lit(5)) == 0
    body = F.when(
        single,
        F.concat(
            F.lit('[{"time": '), secs.cast("string"),
            F.lit('.25, "interval": 10.0, "host": "h'),
            F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
            F.lit('", "plugin": "load", "type": "load", "type_instance": "",'
                  ' "dstypes": ["gauge"], "dsnames": ["value"], "values": ['),
            iv, F.lit("]}]"),
        ),
    ).otherwise(
        F.concat(
            F.lit('[{"time": '), secs.cast("string"),
            F.lit('.25, "interval": 10.0, "host": "h'),
            F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
            F.lit('", "plugin": "if", "plugin_instance": "eth0", "type": "'),
            F.col("event_type"),
            F.lit('", "type_instance": "octets", "dstypes": ["derive", "derive"],'
                  ' "dsnames": ["rx", "tx"], "values": ['),
            iv, F.lit(", "), iv, F.lit("1]}]"),
        )
    )
    out = parse_collectd_json(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "cd_name", "cd_host", "cd_plugin", "cd_plugin_instance",
        "cd_dsname", "cd_dstype", "cd_value", "cd_interval", "cd_ts_us",
    )


def q_parse_firehose(spark, sf_dir):
    """AWS Firehose HTTP envelope (awsfirehosereceiver receiver.go:75-89):
    base64 records decoded per row, empty data legal, epoch-ms envelope
    timestamp shared by every record of a request."""
    from ..operators.parse import parse_firehose_envelope

    ev = _events(spark, sf_dir)
    iv = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("bigint")
    payload = F.base64(F.concat(F.lit("evt "), F.col("event_type"), F.lit(" "), iv).cast("binary"))
    body = F.concat(
        F.lit('{"requestId": "req-'), F.col("event_id").cast("string"),
        F.lit('", "timestamp": '), ms.cast("string"),
        F.lit(', "records": [{"data": "'), payload, F.lit('"}, {"data": ""}]}'),
    )
    out = parse_firehose_envelope(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "fh_request_id",
        F.unix_millis(F.col("fh_ts")).alias("fh_ts_ms"), "fh_record_idx", "fh_data",
    )


def q_fluent_forward(spark, sf_dir):
    """Fluent Forward protocol (fluentforwardreceiver): all three event
    modes — message (int time), forward (EventTime ext entries),
    packedforward (+ gzip CompressedPackedForward every 6th) — decoded
    from per-row msgpack payloads synthesized deterministically from
    events."""
    from ..operators.fluent import parse_fluent_forward, synthesize_fluent_payloads

    ev = _events(spark, sf_dir).select("event_id", "event_type")
    payloads = synthesize_fluent_payloads(ev, cols={"etype": "event_type"})
    out = parse_fluent_forward(payloads, "payload")
    return out.select(
        "event_id", "ff_mode", "ff_tag", "ff_ts_us", "ff_body", "ff_attrs_csv", "ff_chunk"
    )


def q_otlp_pb_logs(spark, sf_dir):
    """OTLP protobuf logs (the collector's native wire format,
    opentelemetry-proto logs.proto): proto-wire decode of LogsData
    payloads — fixed64 nanos, varint severities, AnyValue bodies (string
    and kvlist), typed attributes, trace/span ids, resource + scope
    context flattened per record."""
    from ..operators.otlp_pb import parse_otlp_pb_logs, synthesize_otlp_pb

    ev = _events(spark, sf_dir).select("event_id", "event_type")
    out = parse_otlp_pb_logs(synthesize_otlp_pb(ev, cols={"etype": "event_type"}), "payload")
    return out.select(
        "event_id", "ol_ts_us", "ol_severity_number", "ol_severity_text", "ol_body",
        "ol_attrs_csv", "ol_trace_id", "ol_span_id", "ol_scope", "ol_resource_csv",
    )


def q_otlp_pb_spans(spark, sf_dir):
    """OTLP protobuf traces (trace.proto): span decode — ids as hex,
    varint kind/status, fixed64 nanos, attributes, resource context,
    parent linkage present on two of every three spans."""
    from ..operators.otlp_pb import parse_otlp_pb_traces, synthesize_otlp_pb_spans

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    out = parse_otlp_pb_traces(synthesize_otlp_pb_spans(ev), "payload")
    return out.select(
        "event_id", "sp_trace_id", "sp_span_id", "sp_parent_span_id", "sp_name",
        "sp_kind", "sp_start_us", "sp_end_us", "sp_status_code", "sp_attrs_csv",
        "sp_resource_csv",
    )


def q_otlp_pb_metrics(spark, sf_dir):
    """OTLP protobuf metrics (metrics.proto): number datapoints — gauge
    as_double on even ids (exact float round trip through the fixed64
    wire), monotonic cumulative sum as_int on odd ids."""
    from ..operators.otlp_pb import parse_otlp_pb_metrics, synthesize_otlp_pb_metrics

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = parse_otlp_pb_metrics(synthesize_otlp_pb_metrics(ev), "payload")
    return out.select(
        "event_id", "mt_name", "mt_unit", "mt_type", "mt_temporality", "mt_monotonic",
        "mt_ts_us", "mt_value", "mt_is_int", "mt_attrs_csv",
    )


_RING_ENDPOINTS = ["backend-1", "backend-2", "backend-3"]


def _ring():
    from ..operators.route import build_hash_ring

    return build_hash_ring(_RING_ENDPOINTS)


def q_ring_route(spark, sf_dir):
    """loadbalancingexporter consistent-hash routing: Karger ring built
    with the reference's exact construction (crc32 positions, weight 200,
    linear probe), per-key position via the portable h60, closest-next-
    with-wrap lookup as a pure projection."""
    from ..operators.route import ring_route

    ev = _events(spark, sf_dir).select(
        "event_id", F.concat(F.lit("trace-"), F.col("user_id").cast("string")).alias("key")
    )
    return ring_route(ev, "key", _ring()).select("event_id", "key", "backend")


def q_avro_logs(spark, sf_dir):
    """Avro binary log decode (avrologencodingextension): static-schema
    deserialization — zigzag varints, enum symbols, null unions, arrays,
    maps, nested records — typed columns for primitives, rendered strings
    for complex values."""
    from ..operators.avro import AVRO_LOG_SCHEMA, parse_avro, synthesize_avro_logs

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    out = parse_avro(synthesize_avro_logs(ev), "payload", AVRO_LOG_SCHEMA)
    return out.select(
        "event_id", "av_timestamp", "av_message", "av_hostname", "av_count",
        "av_levelEnum", "av_severity", "av_level", "av_properties",
        "av_nestedRecord", "av_mapField",
    )


def q_cloudwatch_sub(spark, sf_dir):
    """CloudWatch Logs subscription-filter envelopes (awslogsencoding-
    extension): gzip JSON -> one row per logEvent, CONTROL_MESSAGE
    envelopes skipped."""
    from ..operators.parse import parse_cloudwatch_subscription, synthesize_cloudwatch_payloads

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    out = parse_cloudwatch_subscription(synthesize_cloudwatch_payloads(ev), "payload")
    return out.select(
        "event_id", "cw_owner", "cw_log_group", "cw_log_stream", "cw_filters_csv",
        "cw_event_id", F.unix_millis(F.col("cw_ts")).alias("cw_ts_ms"), "cw_message",
    )


def q_vpc_flow(spark, sf_dir):
    """AWS VPC flow log lines (default 14-field format): typed columns,
    '-' unset markers, wrong-field-count rows NULLed."""
    from ..operators.parse import parse_vpc_flow_log

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    sport = F.when(F.pmod(eid, F.lit(10)) == 0, F.lit("-")).otherwise(
        (F.lit(1024) + F.pmod(eid, F.lit(50000))).cast("string")
    )
    start = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000).cast("bigint")
    body = F.concat_ws(
        " ",
        F.lit("2"), F.lit("123456789010"),
        F.concat(F.lit("eni-"), F.pmod(F.col("user_id"), F.lit(100)).cast("string")),
        F.concat(F.lit("10.0."), F.pmod(eid, F.lit(255)).cast("string"), F.lit(".1")),
        F.concat(F.lit("10.0."), F.pmod(F.col("user_id"), F.lit(255)).cast("string"), F.lit(".2")),
        sport, F.lit("443"), F.lit("6"),
        F.pmod(eid, F.lit(1000)).cast("string"),
        F.floor(F.col("value") * 100).cast("bigint").cast("string"),
        start.cast("string"), (start + 60).cast("string"),
        F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("ACCEPT")).otherwise(F.lit("REJECT")),
        F.lit("OK"),
    )
    # every 11th line loses its trailing field -> whole row NULLs
    body = F.when(
        F.pmod(eid, F.lit(11)) == 0, F.regexp_replace(body, r" OK$", "")
    ).otherwise(body)
    out = parse_vpc_flow_log(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "fl_version", "fl_account_id", "fl_interface_id", "fl_srcaddr",
        "fl_dstaddr", "fl_srcport", "fl_dstport", "fl_protocol", "fl_packets",
        "fl_bytes", "fl_start", "fl_end", "fl_action", "fl_log_status",
    )


def q_alb_access_log(spark, sf_dir):
    """AWS ALB access-log lines (awslogsencodingextension elb-access-log):
    23 typed leading fields, '-' unset markers, request split into
    method/url/protocol; every 13th line malformed -> all NULLs."""
    from ..operators.parse import parse_alb_access_log

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    proto_type = F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("https")).otherwise(F.lit("http"))
    status = (F.lit(200) + F.pmod(eid, F.lit(3)) * 100).cast("string")
    rpt = F.concat(F.lit("0.0"), F.pmod(eid, F.lit(10)).cast("string"))
    body = F.concat_ws(
        " ",
        proto_type, F.lit("2018-07-02T22:23:00.186641Z"), F.lit("app/lb/50dc6c495c0c9188"),
        F.concat(F.lit("192.168."), F.pmod(eid, F.lit(255)).cast("string"), F.lit(".1:2817")),
        F.when(F.pmod(eid, F.lit(9)) == 0, F.lit("-")).otherwise(
            F.concat(F.lit("10.0."), F.pmod(F.col("user_id"), F.lit(255)).cast("string"),
                     F.lit(".2:80"))
        ),
        rpt, F.lit("0.048"), F.lit("0.037"), status,
        F.when(F.pmod(eid, F.lit(9)) == 0, F.lit("-")).otherwise(status),
        (F.lit(34) + F.pmod(eid, F.lit(100))).cast("string"),
        F.floor(F.col("value") * 100).cast("bigint").cast("string"),
        F.concat(F.lit('"GET https://www.example.com:443/p'), F.pmod(eid, F.lit(50)).cast("string"),
                 F.lit(' HTTP/1.1"')),
        F.lit('"curl/7.46.0"'), F.lit("ECDHE-RSA-AES128-GCM-SHA256"), F.lit("TLSv1.2"),
        F.lit("arn:aws:elasticloadbalancing:us-east-2:123456789012:targetgroup/t/73e2"),
        F.concat(F.lit('"Root=1-'), eid.cast("string"), F.lit('"')),
        F.lit('"www.example.com"'), F.lit('"-"'),
        F.pmod(eid, F.lit(5)).cast("string"), F.lit("2018-07-02T22:22:48.364000Z"),
        F.when(F.pmod(eid, F.lit(4)) == 0, F.lit('"authenticate,forward"')).otherwise(
            F.lit('"forward"')
        ),
    )
    body = F.when(F.pmod(eid, F.lit(13)) == 0, F.lit("http incomplete line")).otherwise(body)
    out = parse_alb_access_log(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "alb_type", "alb_client", "alb_target",
        "alb_request_processing_time", "alb_elb_status_code", "alb_target_status_code",
        "alb_received_bytes", "alb_sent_bytes", "alb_user_agent", "alb_ssl_cipher",
        "alb_trace_id", "alb_domain_name", "alb_chosen_cert_arn",
        "alb_matched_rule_priority", "alb_actions_executed",
        "alb_method", "alb_url", "alb_protocol",
    )


def q_otlp_pb_histograms(spark, sf_dir):
    """OTLP protobuf histogram datapoints: proto PACKED repeated fields
    (fixed64 bucket counts, double bounds) decoded into the repo's
    canonical histogram CSV columns."""
    from ..operators.otlp_pb import parse_otlp_pb_histograms, synthesize_otlp_pb_histograms

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = parse_otlp_pb_histograms(synthesize_otlp_pb_histograms(ev), "payload")
    return out.select(
        "event_id", "hh_name", "hh_temporality", "hh_ts_us", "hh_count", "hh_sum",
        "hh_bucket_counts_csv", "hh_bounds_csv", "hh_attrs_csv",
    )


def q_prw_histogram_series(spark, sf_dir):
    """OTLP histogram datapoints → PRW series rows: the exporter-side
    _sum/_count/cumulative-_bucket/le expansion (prometheusremotewrite
    helper.go:254-334) composed over the protobuf wire decode."""
    from ..operators.otlp_pb import parse_otlp_pb_histograms, synthesize_otlp_pb_histograms
    from ..operators.prom_translate import histogram_to_prw_series

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    dec = parse_otlp_pb_histograms(synthesize_otlp_pb_histograms(ev), "payload").drop(
        "value", "event_type"  # the operator emits its own `value` column
    )
    out = histogram_to_prw_series(dec)
    return out.select("event_id", "hh_ts_us", "series", "le", "value")


def q_prw_summary_series(spark, sf_dir):
    """Summary datapoints → PRW series rows: _sum/_count plus one
    quantile-labeled series per q:value pair (helper.go
    addSummaryDataPoints), over a deterministic synthesis with an
    empty-quantiles stripe."""
    from ..operators.prom_translate import summary_to_prw_series

    eid = F.col("event_id")
    src = _events(spark, sf_dir).select(
        "event_id",
        F.concat(F.col("event_type"), F.lit(".duration")).alias("metric_name"),
        (eid % 7 + 1).alias("s_count"),
        F.col("value").cast("double").alias("s_sum"),
        F.when(
            eid % 10 != 0,
            F.concat(
                F.lit("0.5:"), (eid % 100).cast("string"),
                F.lit(",0.9:"), (eid % 250).cast("string"),
                F.lit(",0.99:"), (eid % 500).cast("string"),
            ),
        ).alias("quantiles_csv"),
    )
    return summary_to_prw_series(src).select("event_id", "series", "quantile", "value")


def q_jaeger_tags_otlp(spark, sf_dir):
    """Jaeger tag-convention translation over a deterministic tag matrix:
    kind mapping, error-tag precedence, otel.status_code casing, HTTP
    code fallback with per-kind 4xx rules, tracestate extraction, and
    consumed-tag removal (jaegerproto_to_traces.go:212-471)."""
    from ..operators.spans import jaeger_tags_to_otlp

    e = F.col("event_id")
    kinds = F.array(F.lit("client"), F.lit("server"), F.lit("producer"), F.lit("internal"))
    entries = F.array(
        F.concat(F.lit("etype="), F.col("event_type")),
        F.when(e % 5 < 4, F.concat(F.lit("span.kind="), F.element_at(kinds, (e % 5 + 1).cast("int")))),
        F.when(e % 7 == 0, F.lit("error=true")).when(e % 7 == 1, F.lit("error=false")),
        F.when(e % 3 == 0, F.when(e % 6 == 0, F.lit("otel.status_code=Ok")).otherwise(F.lit("otel.status_code=ERROR"))),
        F.when(e % 4 == 0, F.concat(F.lit("otel.status_description=d"), (e % 10).cast("string"))),
        F.when(e % 2 == 0, F.concat(F.lit("http.status_code="), (e % 500 + 100).cast("string"))),
        F.when(e % 8 == 0, F.lit("http.status_message=hm")),
        F.when(e % 9 == 0, F.lit("w3c.tracestate=vendor:1")),
    )
    src = _events(spark, sf_dir).select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.filter(entries, lambda x: x.isNotNull()))).alias("jt_tags_csv"),
    )
    return jaeger_tags_to_otlp(src).select(
        "event_id", "otlp_kind", "otlp_status_set", "otlp_status_code",
        "otlp_status_message", "otlp_trace_state", "attrs_rest_csv",
    )


def q_zipkin_tags_otlp(spark, sf_dir):
    """Zipkin v2 tag-convention translation over a deterministic matrix:
    wire-kind precedence over the span.kind tag, both status-code naming
    generations + the Go zero-value, error-tag presence semantics with
    the only-'true'-consumed quirk (to_translator.go:245-282)."""
    from ..operators.spans import zipkin_tags_to_otlp

    e = F.col("event_id")
    kinds = F.array(F.lit("CLIENT"), F.lit("SERVER"), F.lit("PRODUCER"), F.lit("CONSUMER"))
    entries = F.array(
        F.concat(F.lit("etype="), F.col("event_type")),
        F.when(e % 4 == 0, F.lit("span.kind=internal")).when(e % 4 == 1, F.lit("span.kind=weird")),
        F.when(e % 3 == 0, F.when(e % 6 == 0, F.lit("otel.status_code=Ok")).otherwise(F.lit("otel.status_code=STATUS_CODE_ERROR")))
         .when(e % 3 == 1, F.when(e % 9 == 1, F.lit("otel.status_code=bogus"))),
        F.when(e % 5 == 0, F.concat(F.lit("otel.status_description=d"), (e % 10).cast("string"))),
        F.when(e % 7 == 0, F.lit("error=true")).when(e % 7 == 1, F.lit("error=oops")),
    )
    src = _events(spark, sf_dir).select(
        "event_id",
        F.when(e % 2 == 0, F.element_at(kinds, (e % 4 + 1).cast("int"))).alias("zk_kind"),
        F.concat_ws(",", F.array_sort(F.filter(entries, lambda x: x.isNotNull()))).alias("zk_tags_csv"),
    )
    return zipkin_tags_to_otlp(src).select(
        "event_id", "otlp_kind", "otlp_status_set", "otlp_status_code",
        "otlp_status_message", "attrs_rest_csv",
    )


def q_filelog_header(spark, sf_dir):
    """filelog header-metadata parsing over a synthesized per-file line
    table: maximal-prefix header detection, named-capture metadata regex,
    per-key upsert merge, merged attrs stamped on every data line
    (fileconsumer/internal/header + filelogreceiver README)."""
    from pyspark.sql import Window

    from ..operators.parse import sorted_kv_csv
    from ..sources.file_source import filelog_header_metadata

    e = F.col("event_id")
    fid = (e % 50).alias("fid")
    base = _events(spark, sf_dir).select("event_id", fid)
    rn = F.row_number().over(Window.partitionBy("fid").orderBy("event_id"))
    lines = base.withColumn("rn", rn).withColumn(
        "text",
        F.when((F.col("rn") == 1) & (F.col("fid") % 7 != 0),
               F.concat(F.lit("# host=h"), (F.col("fid") % 5).cast("string")))
        .when((F.col("rn") == 2) & (F.col("fid") % 3 == 0), F.lit("# host=h9"))
        .when((F.col("rn") == 3) & (F.col("fid") % 2 == 0),
              F.concat(F.lit("# region=r"), (F.col("fid") % 4).cast("string")))
        .otherwise(F.concat(F.lit("msg "), e.cast("string"))),
    )
    out = filelog_header_metadata(
        lines,
        header_pattern="^#",
        metadata_regex=r"^# (host=(?P<host>\S+)|region=(?P<region>\S+))$",
        file_col="fid",
        line_col="rn",
    )
    return out.select(
        "event_id", "fid", "rn", "text", sorted_kv_csv(F.col("header_attrs")).alias("hdr_csv")
    )


def q_redact_full(spark, sf_dir):
    """Full-config redaction over a synthesized attr map: fail-closed
    allowlist, ignored keys, blocked key patterns, blocked values, debug
    summary attributes (processor.go:330-381)."""
    from ..operators.parse import sorted_kv_csv
    from ..operators.transform import redact_attributes

    e = F.col("event_id")
    src = _events(spark, sf_dir).select(
        "event_id",
        F.map_filter(
            F.create_map(
                F.lit("etype"), F.col("event_type"),
                F.lit("env"), F.lit("prod"),
                F.lit("ssn"), F.when(e % 3 == 0, F.concat(F.lit("123-45-"), F.lpad((e % 10000).cast("string"), 4, "0"))),
                F.lit("token"), F.when(e % 5 == 0, F.concat(F.lit("tok"), e.cast("string"))),
                F.lit("extra"), F.when(e % 2 == 0, F.lit("x")),
            ),
            lambda _k, v: v.isNotNull(),
        ).alias("attrs"),
    )
    out = redact_attributes(
        src,
        allowed_keys=["etype", "ssn", "token", "env"],
        ignored_keys=["env"],
        blocked_values=[r"\d{3}-\d{2}-\d{4}"],
        blocked_key_patterns=["^token$"],
        summary="debug",
    )
    return out.select("event_id", sorted_kv_csv(F.col("attrs")).alias("attrs_csv"))


def q_cloudtrail(spark, sf_dir):
    """CloudTrail log-file envelopes (awslogsencodingextension
    cloudtraillog): gzip JSON Records fan-out with identity context and
    ISO event times."""
    from ..operators.parse import parse_cloudtrail, synthesize_cloudtrail_payloads

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    out = parse_cloudtrail(synthesize_cloudtrail_payloads(ev), "payload")
    return out.select(
        "event_id", "ct_version", F.unix_micros(F.col("ct_ts")).alias("ct_ts_us"),
        "ct_source", "ct_name", "ct_region", "ct_source_ip", "ct_identity_type",
        "ct_identity_arn", "ct_account_id", "ct_request_id", "ct_event_id",
        "ct_read_only", "ct_error_code",
    )


def q_otlp_pb_exp_histograms(spark, sf_dir):
    """OTLP protobuf exponential-histogram datapoints: zigzag sint32
    scale/offsets (negative scales exercised), packed-varint bucket
    counts, optional negative bucket section."""
    from ..operators.otlp_pb import (
        parse_otlp_pb_exp_histograms,
        synthesize_otlp_pb_exp_histograms,
    )

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = parse_otlp_pb_exp_histograms(synthesize_otlp_pb_exp_histograms(ev), "payload")
    return out.select(
        "event_id", "eh_name", "eh_temporality", "eh_ts_us", "eh_count", "eh_sum",
        "eh_scale", "eh_zero_count", "eh_pos_offset", "eh_pos_counts_csv",
        "eh_neg_offset", "eh_neg_counts_csv",
    )


def q_otlp_pb_pipeline(spark, sf_dir):
    """End-to-end composition over the native wire format: OTLP protobuf
    decode -> routingconnector (severity_number >= ERROR moves to
    'errors', attr-flagged retries copied to 'retry_feed') -> per-(route,
    resource) countconnector aggregate. Proves the binary receivers feed
    the same processor graph as the transcript pipeline."""
    from ..operators.otlp_pb import parse_otlp_pb_logs, synthesize_otlp_pb
    from ..operators.route import Route, RouteTable, apply_routes

    ev = _events(spark, sf_dir).select("event_id", "event_type")
    logs = parse_otlp_pb_logs(synthesize_otlp_pb(ev, cols={"etype": "event_type"}), "payload")
    table = RouteTable(
        routes=[
            Route("errors", F.col("ol_severity_number") >= 17, "move"),
            Route("retry_feed", F.col("ol_attrs_csv").contains("retry=true"), "copy"),
        ],
        default="general",
    )
    routed = apply_routes(logs, table)
    return routed.groupBy("route_id", "ol_resource_csv").agg(
        F.count("*").alias("n_records"),
        F.sum(F.col("copy_retry_feed").cast("int")).alias("n_retry_copies"),
        F.min("ol_ts_us").alias("first_ts_us"),
        F.max("ol_ts_us").alias("last_ts_us"),
    )


def q_s3_access_log(spark, sf_dir):
    """S3 server access-log lines (awslogsencodingextension s3-access-log):
    18 typed leading fields, bracketed strftime timestamp, '-' unset
    markers, appended-field tolerance; every 13th line malformed."""
    from ..operators.parse import parse_s3_access_log

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    tstr = F.concat(
        F.date_format(F.col("ts").cast("timestamp"), "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000")
    )
    status = (F.lit(200) + F.pmod(eid, F.lit(3)) * 100).cast("string")
    body = F.concat_ws(
        " ",
        F.lit("79a59df900b949e5"), F.concat(F.lit("bucket-"), F.pmod(eid, F.lit(7)).cast("string")),
        F.concat(F.lit("["), tstr, F.lit("]")),
        F.concat(F.lit("192.0.2."), F.pmod(eid, F.lit(255)).cast("string")),
        F.lit("requester1"), F.concat(F.lit("REQ"), eid.cast("string")),
        F.lit("REST.GET.OBJECT"),
        F.when(F.pmod(eid, F.lit(5)) == 0, F.lit("-")).otherwise(
            F.concat(F.lit("key/"), F.pmod(F.col("user_id"), F.lit(100)).cast("string"))
        ),
        F.concat(F.lit('"GET /b/k'), F.pmod(eid, F.lit(9)).cast("string"), F.lit(' HTTP/1.1"')),
        status,
        F.when(F.pmod(eid, F.lit(6)) == 0, F.lit("NoSuchKey")).otherwise(F.lit("-")),
        F.floor(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit("2048"), F.pmod(eid, F.lit(500)).cast("string"), F.lit("-"),
        F.lit('"-"'), F.lit('"S3Console/0.4"'), F.lit("-"),
        F.lit("hostid= SigV4 ECDHE TLSV1.2"),
    )
    body = F.when(F.pmod(eid, F.lit(13)) == 0, F.lit("truncated s3 line")).otherwise(body)
    out = parse_s3_access_log(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "s3_bucket", "s3_time", F.unix_micros(F.col("s3_ts")).alias("s3_ts_us"),
        "s3_remote_ip", "s3_request_id", "s3_operation", "s3_key", "s3_request_uri",
        "s3_http_status", "s3_error_code", "s3_bytes_sent", "s3_object_size",
        "s3_total_time_ms", "s3_turn_around_time_ms", "s3_referer", "s3_user_agent",
        "s3_version_id",
    )


def q_jaeger_pb_spans(spark, sf_dir):
    """Jaeger protobuf spans (jaegerencodingextension: one model.Span per
    payload): Timestamp/Duration submessages, typed KeyValue tags across
    all five variants, CHILD_OF reference -> parent."""
    from ..operators.jaeger_pb import parse_jaeger_pb_spans, synthesize_jaeger_spans

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    out = parse_jaeger_pb_spans(synthesize_jaeger_spans(ev), "payload")
    return out.select(
        "event_id", "jg_trace_id", "jg_span_id", "jg_parent_span_id", "jg_op",
        "jg_flags", "jg_start_us", "jg_duration_us", "jg_tags_csv", "jg_service",
        "jg_process_tags_csv",
    )


def q_zipkin_pb_spans(spark, sf_dir):
    """Zipkin protobuf ListOfSpans (zipkinencodingextension 'zipkin_proto'
    protocol): a SERVER root + CLIENT child per payload, fixed64 µs
    timestamps, map<string,string> tags, annotations, endpoint services,
    debug/shared bools."""
    from ..operators.zipkin_pb import parse_zipkin_pb_spans, synthesize_zipkin_pb

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    out = parse_zipkin_pb_spans(synthesize_zipkin_pb(ev).drop("ts"), "payload")
    return out.select(
        "event_id", "zk_trace_id", "zk_span_id", "zk_parent_span_id", "zk_name",
        "zk_kind", "zk_ts_us", "zk_duration_us", "zk_service", "zk_remote_service",
        "zk_tags_csv", "zk_anno_csv", "zk_debug", "zk_shared",
    )


def q_jaeger_thrift_batches(spark, sf_dir):
    """Jaeger Thrift compact-protocol batches (jaegerreceiver
    thrift_compact, the agent's UDP emitBatch payload): process stamped
    per span, typed tags, span logs, 128-bit trace ids from
    traceIdHigh/Low, parentSpanId 0 = unset."""
    from ..operators.jaeger_thrift import parse_jaeger_thrift_batches, synthesize_jaeger_thrift

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    out = parse_jaeger_thrift_batches(synthesize_jaeger_thrift(ev).drop("ts"), "payload")
    return out.select(
        "event_id", "jt_trace_id", "jt_span_id", "jt_parent_span_id", "jt_op",
        "jt_flags", "jt_start_us", "jt_duration_us", "jt_tags_csv", "jt_logs_csv",
        "jt_service", "jt_process_tags_csv",
    )


def q_cw_metric_stream(spark, sf_dir):
    """CloudWatch Metric Streams JSON lines: statistics-set records ->
    summary datapoints with sorted dimension CSVs; every 8th line is not
    valid JSON -> NULLs."""
    from ..operators.parse import parse_cloudwatch_metric_stream

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    iv = F.col("value").cast("decimal(18,2)").cast("string")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("bigint")
    body = F.concat(
        F.lit('{"metric_stream_name": "s1", "account_id": "123456789012",'
              ' "region": "us-east-1", "namespace": "AWS/EC2", "metric_name": "'),
        F.col("event_type"),
        F.lit('", "dimensions": {"InstanceId": "i-'),
        F.pmod(F.col("user_id"), F.lit(50)).cast("string"),
        F.lit('", "az": "a"}, "timestamp": '), ms.cast("string"),
        F.lit(', "value": {"max": '), iv, F.lit(', "min": 0.5, "sum": '), iv,
        F.lit(', "count": '), (F.pmod(eid, F.lit(20)) + 1).cast("string"),
        F.lit('}, "unit": "Seconds"}'),
    )
    body = F.when(F.pmod(eid, F.lit(8)) == 0, F.lit("{not json")).otherwise(body)
    out = parse_cloudwatch_metric_stream(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "cm_stream", "cm_account_id", "cm_region", "cm_namespace",
        "cm_name", "cm_dims_csv", F.unix_millis(F.col("cm_ts")).alias("cm_ts_ms"),
        "cm_count", "cm_sum", "cm_min", "cm_max", "cm_unit",
    )


def q_waf_log(spark, sf_dir):
    """AWS WAF JSON log lines: request context flattened, sorted header
    CSV, nullable response code; every 9th line malformed."""
    from ..operators.parse import parse_waf_log

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("bigint")
    body = F.concat(
        F.lit('{"timestamp": '), ms.cast("string"),
        F.lit(', "webaclId": "acl-'), F.pmod(eid, F.lit(4)).cast("string"),
        F.lit('", "terminatingRuleId": "rule-'), F.pmod(eid, F.lit(6)).cast("string"),
        F.lit('", "terminatingRuleType": "REGULAR", "action": "'),
        F.when(F.pmod(eid, F.lit(5)) == 0, F.lit("BLOCK")).otherwise(F.lit("ALLOW")),
        F.lit('", "httpSourceName": "ALB", "httpSourceId": "lb1",'
              ' "httpRequest": {"clientIp": "1.2.3.'),
        F.pmod(eid, F.lit(255)).cast("string"),
        F.lit('", "country": "US", "headers": [{"name": "Host", "value": "h'),
        F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
        F.lit('"}, {"name": "Agent", "value": "curl"}], "uri": "/p'),
        F.pmod(eid, F.lit(9)).cast("string"),
        F.lit('", "args": "q=1", "httpVersion": "HTTP/1.1", "httpMethod": "GET"}'),
        F.when(F.pmod(eid, F.lit(5)) == 0, F.lit(', "responseCodeSent": 403')).otherwise(
            F.lit("")
        ),
        F.lit("}"),
    )
    body = F.when(F.pmod(eid, F.lit(9)) == 0, F.lit("corrupt")).otherwise(body)
    out = parse_waf_log(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", F.unix_millis(F.col("waf_ts")).alias("waf_ts_ms"), "waf_acl_id",
        "waf_rule_id", "waf_rule_type", "waf_action", "waf_client_ip", "waf_country",
        "waf_method", "waf_uri", "waf_args", "waf_headers_csv", "waf_response_code",
        "waf_ja3",
    )


def q_network_firewall(spark, sf_dir):
    """AWS Network Firewall Suricata-shaped events: netflow rows on even
    ids, alert rows on odd ids, epoch-string timestamps."""
    from ..operators.parse import parse_network_firewall_log

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    secs = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000).cast("bigint")
    netflow = F.concat(
        F.lit('"netflow": {"pkts": '), F.pmod(eid, F.lit(1000)).cast("string"),
        F.lit(', "bytes": '), F.floor(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit(', "age": 60}'),
    )
    alert = F.concat(
        F.lit('"alert": {"action": "blocked", "signature": "SURICATA '),
        F.col("event_type"),
        F.lit('", "signature_id": '), F.pmod(eid, F.lit(90000)).cast("string"),
        F.lit(', "severity": '), (F.pmod(eid, F.lit(3)) + 1).cast("string"), F.lit("}"),
    )
    body = F.concat(
        F.lit('{"firewall_name": "fw-'), F.pmod(F.col("user_id"), F.lit(3)).cast("string"),
        F.lit('", "availability_zone": "us-east-1a", "event_timestamp": "'),
        secs.cast("string"),
        F.lit('", "event": {"event_type": "'),
        F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("netflow")).otherwise(F.lit("alert")),
        F.lit('", "flow_id": '), eid.cast("string"),
        F.lit(', "src_ip": "10.0.0.'), F.pmod(eid, F.lit(255)).cast("string"),
        F.lit('", "src_port": 443, "dest_ip": "10.0.1.1", "dest_port": 80,'
              ' "proto": "TCP", '),
        F.when(F.pmod(eid, F.lit(2)) == 0, netflow).otherwise(alert),
        F.lit("}}"),
    )
    out = parse_network_firewall_log(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", "nf_firewall", "nf_az", F.unix_micros(F.col("nf_ts")).alias("nf_ts_us"),
        "nf_event_type", "nf_flow_id", "nf_src_ip", "nf_src_port", "nf_dest_ip",
        "nf_dest_port", "nf_proto", "nf_pkts", "nf_bytes", "nf_alert_action",
        "nf_alert_signature", "nf_alert_severity",
    )


def q_gcp_log_entry(spark, sf_dir):
    """Google Cloud LogEntry JSON: text vs raw-json payloads (every 3rd is
    a jsonPayload object surfaced as its compact raw text), RFC3339
    timestamps, label maps, monitored-resource flatten."""
    from ..operators.parse import parse_gcp_log_entry

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    tstr = F.concat(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")
    )
    payload = F.when(
        F.pmod(eid, F.lit(3)) == 0,
        F.concat(
            F.lit('"jsonPayload": {"k":'), F.pmod(eid, F.lit(50)).cast("string"),
            F.lit(',"type":"'), F.col("event_type"), F.lit('"}'),
        ),
    ).otherwise(
        F.concat(F.lit('"textPayload": "msg '), F.col("event_type"), F.lit('"'))
    )
    body = F.concat(
        F.lit('{"logName": "projects/p/logs/app", "timestamp": "'), tstr,
        F.lit('", "severity": "'),
        F.when(F.pmod(eid, F.lit(4)) == 0, F.lit("error")).otherwise(F.lit("info")),
        F.lit('", "insertId": "i'), eid.cast("string"),
        F.lit('", "trace": "projects/p/traces/t'), F.pmod(F.col("user_id"), F.lit(30)).cast("string"),
        F.lit('", "spanId": "s'), eid.cast("string"),
        F.lit('", "traceSampled": '),
        F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(', "labels": {"env": "prod", "app": "a'), F.pmod(eid, F.lit(5)).cast("string"),
        F.lit('"}, "resource": {"type": "gce_instance", "labels": {"zone": "us-east1-b"}}, '),
        payload, F.lit("}"),
    )
    out = parse_gcp_log_entry(ev.withColumn("body", body), "body")
    return out.select(
        "event_id", F.unix_micros(F.col("gl_ts")).alias("gl_ts_us"), "gl_insert_id",
        "gl_log_name", "gl_severity", "gl_body", "gl_is_text", "gl_trace", "gl_span_id",
        "gl_trace_sampled", "gl_labels_csv", "gl_resource_type", "gl_resource_labels_csv",
    )


def q_hec_roundtrip(spark, sf_dir):
    """Splunk HEC render -> parse round trip: the exporter's JSON
    (escaped event body, decimal-exact epoch.millis time, optional index)
    re-ingested by the receiver-side parser recovers every field."""
    from ..operators.parse import parse_splunk_hec
    from ..operators.render import render_splunk_hec

    ev = _events(spark, sf_dir).withColumn("_ts", _render_ts())
    rendered = render_splunk_hec(
        ev,
        ts="_ts",
        host=F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")),
        source=F.lit("events"),
        sourcetype=F.col("event_type"),
        index=F.when(F.pmod(F.col("event_id"), F.lit(4)) != 0, F.lit("main")),
        event=F.col("props"),
        out="body",
    )
    out = parse_splunk_hec(rendered, "body")
    return out.select(
        "event_id", F.unix_micros(F.col("hec_ts")).alias("hec_ts_us"), "hec_host",
        "hec_source", "hec_sourcetype", "hec_index", "hec_event_body", "hec_fields_csv",
    )


def q_remote_write(spark, sf_dir):
    """Prometheus remote-write protobuf (prometheusremotewriteexporter's
    prompb WriteRequest): one row per sample, `__name__` split from the
    sorted label CSV, exact double round trip."""
    from ..operators.otlp_pb import parse_remote_write, synthesize_remote_write

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = parse_remote_write(synthesize_remote_write(ev), "payload")
    return out.select("event_id", "rw_name", "rw_labels_csv", "rw_ts_ms", "rw_value")


def q_netflow_v5(spark, sf_dir):
    """NetFlow v5 export-packet decode (netflowreceiver parser.go:217-301
    attribute surface): one row per 48-byte flow record, absolute flow
    times reconstructed from sysuptime offsets, IANA transport names."""
    from ..operators.netflow import parse_netflow_v5, synthesize_netflow_v5

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    out = parse_netflow_v5(synthesize_netflow_v5(ev), "payload")
    return out.select(
        "event_id", "nf_type", "nf_src_addr", "nf_src_port", "nf_dst_addr",
        "nf_dst_port", "nf_transport", "nf_bytes", "nf_packets",
        "nf_sequence_num", "nf_tcp_flags", "nf_src_as", "nf_dst_as",
        "nf_next_hop", "nf_in_if", "nf_out_if", "nf_start_ms", "nf_end_ms",
    )


def q_ipfix(spark, sf_dir):
    """IPFIX (RFC 7011) decode with in-packet templates: template set +
    data set per export, reduced-size integer encoding, enterprise IE
    skipped without losing record alignment."""
    from ..operators.netflow import parse_ipfix, synthesize_ipfix

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    out = parse_ipfix(synthesize_ipfix(ev), "payload")
    return out.select(
        "event_id", "nf_type", "nf_etype", "nf_src_addr", "nf_src_port",
        "nf_dst_addr", "nf_dst_port", "nf_transport", "nf_bytes",
        "nf_packets", "nf_src_as", "nf_dst_as", "nf_start_ms", "nf_end_ms",
        "nf_sequence_num",
    )


def q_ipfix_cross_packet(spark, sf_dir):
    """IPFIX decode with a cross-packet template cache (RFC 7011 §8
    periodic refresh): only every-100th packet carries the template set,
    so 99% of packets are data-only and decode solely through the
    harvested per-observation-domain broadcast (collect_ipfix_templates
    pass 1 → broadcast → decode pass 2). Without the cache these rows
    drop; the oracle gates that data-only packets of a template-covered
    domain decode in full."""
    from ..operators.netflow import (
        collect_ipfix_templates,
        parse_ipfix,
        synthesize_ipfix,
    )

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    spool = synthesize_ipfix(ev, template_every=100)
    shared = collect_ipfix_templates(spool)
    out = parse_ipfix(spool, "payload", shared_templates=shared)
    return out.select(
        "event_id", "nf_type", "nf_src_addr", "nf_src_port",
        "nf_dst_addr", "nf_dst_port", "nf_transport", "nf_bytes",
        "nf_sequence_num",
    )


def q_netflow_v9(spark, sf_dir):
    """NetFlow v9 (RFC 3954) decode: options flowset sampling applied
    packet-wide, FIRST/LAST_SWITCHED rebased from sysuptime-relative ms
    to wall-clock via the header's boot time (goflow2's TimeFlowStart
    reconstruction), in-packet template resolution."""
    from ..operators.netflow import parse_netflow_v9, synthesize_netflow_v9

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    out = parse_netflow_v9(synthesize_netflow_v9(ev), "payload")
    return out.select(
        "event_id", "nf_type", "nf_src_addr", "nf_src_port",
        "nf_dst_addr", "nf_dst_port", "nf_transport", "nf_bytes",
        "nf_packets", "nf_start_ms", "nf_end_ms", "nf_sequence_num",
        "nf_sampling_rate",
    )


def q_envoy_als(spark, sf_dir):
    """Envoy ALS StreamAccessLogsMessage decode (envoyalsreceiver
    server.go:63-99 surface, structured beyond its debug-string body):
    one row per HTTP/TCP entry — identifier log_name, timings, request/
    response properties, downstream address, cluster/route."""
    from ..operators.envoy_als import parse_envoy_als, synthesize_envoy_als

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    out = parse_envoy_als(synthesize_envoy_als(ev), "payload")
    return out.select(
        "event_id", "ea_type", "ea_log_name", "ea_start_us", "ea_duration_us",
        "ea_protocol", "ea_method", "ea_scheme", "ea_authority", "ea_path",
        "ea_user_agent", "ea_request_id", "ea_down_addr", "ea_down_port",
        "ea_upstream_cluster", "ea_route_name", "ea_req_body_bytes",
        "ea_resp_code", "ea_resp_body_bytes", "ea_rx_bytes", "ea_tx_bytes",
    )


def q_webhook_split(spark, sf_dir):
    """webhookeventreceiver body handling: JSON-boundary splitting with
    raw-text preservation and non-JSON fallback, include_headers_regex
    header filtering into `header.<Name>` list attributes, query params
    as resource attributes (empty values skipped)."""
    from ..operators.event_ingest import webhook_events

    e = _events(spark, sf_dir)
    i = F.col("event_id")
    fixture = e.select(
        "event_id",
        F.when(
            i % 3 != 0,
            F.concat(
                F.lit('{"a":'), i.cast("string"), F.lit('} {"b":"'),
                F.col("event_type"), F.lit('"}'),
            ),
        ).otherwise(F.concat(F.lit("plain text "), i.cast("string"))).alias("body"),
        F.create_map(
            F.lit("X-Keep"),
            F.array(F.lit("v1"), F.concat(F.lit("u"), (F.col("user_id") % 7).cast("string"))),
            F.lit("X-Secret"), F.array(F.lit("drop-me")),
        ).alias("headers"),
        F.create_map(
            F.lit("src"), F.lit("hook"),
            F.lit("empty"), F.lit(""),
            F.lit("qid"), (i % 9).cast("string"),
        ).alias("query"),
    )
    out = webhook_events(
        fixture, "body", headers="headers", query="query",
        split="json", include_headers_regex="^X-Keep",
    )
    return out.select("event_id", "wh_body", "wh_headers_csv", "wh_resource_csv")


def q_osquery_logs(spark, sf_dir):
    """osqueryreceiver queryToLogs: one record per result row, body = the
    query text, attributes = the row's column map (sorted k=v render)."""
    from ..operators.event_ingest import osquery_logs

    e = _events(spark, sf_dir)
    i = F.col("event_id")
    fixture = e.select(
        "event_id",
        F.concat(F.lit("select * from processes where uid = "), (i % 10).cast("string")).alias(
            "query"
        ),
        F.concat(
            F.lit('[{"pid":"'), (i % 30000).cast("string"), F.lit('","name":"'),
            F.col("event_type"), F.lit('"},{"pid":"'), (i % 30000 + 1).cast("string"),
            F.lit('","name":"helper"}]'),
        ).alias("rows_json"),
    )
    out = osquery_logs(fixture, "query", "rows_json")
    return out.select("event_id", "os_body", "os_attrs_csv")


def q_macos_logs(spark, sf_dir):
    """macosunifiedloggingreceiver ndjson style: body passthrough,
    timestamp parse of the fixed `-0700` layout, messageType → severity,
    completion trailer lines dropped."""
    from ..operators.event_ingest import macos_log_lines

    e = _events(spark, sf_dir)
    i = F.col("event_id")
    mtype = F.element_at(
        F.array(F.lit("Error"), F.lit("Fault"), F.lit("Default"), F.lit("Info"), F.lit("Debug")),
        (i % 5 + 1).cast("int"),
    )
    fixture = e.select(
        "event_id",
        F.when(i % 10 == 0, F.lit('{"count":540659,"finished":1}')).otherwise(
            F.concat(
                F.lit('{"timestamp":"2023-10-12 08:15:'),
                F.lpad((i % 60).cast("string"), 2, "0"),
                F.lit('.123456-0700","messageType":"'), mtype,
                F.lit('","eventMessage":"ev '), F.col("event_type"), F.lit('"}'),
            )
        ).alias("line"),
    )
    out = macos_log_lines(fixture, "line", fmt="ndjson")
    return out.select("event_id", "ml_body", "ml_ts_us", "ml_severity_text", "ml_severity_num")


def q_windows_event(spark, sf_dir):
    """Windows Event Log XML render→parse round trip (windowseventlog
    receiver's xml.go mapping): RenderingInfo level/task/opcode/keywords
    override, parseSeverity rendered-name + numeric fallback, EventData
    paramN anonymous numbering, optional Qualifiers/Execution/Security —
    all as one native from_xml projection (no Python, no shuffle)."""
    from ..operators.winevent import parse_windows_event, render_windows_event

    e = _events(spark, sf_dir)
    i, u = F.col("event_id"), F.col("user_id")
    fixture = e.select(
        "event_id",
        (i % 4096 + 1000).alias("we_id"),
        F.when(i % 3 == 0, F.lit(16384).cast("long")).alias("we_qualifiers"),
        F.concat(F.lit("Prov-"), (u % 5).cast("string")).alias("we_provider"),
        F.concat(F.lit("{0000-"), (u % 5).cast("string"), F.lit("}")).alias("we_provider_guid"),
        (i % 3).cast("int").alias("we_version"),
        (i % 6).cast("string").alias("we_level_raw"),
        (i % 20).cast("string").alias("we_task_raw"),
        (i % 4).cast("string").alias("we_opcode_raw"),
        F.lit("0x8020000000000000").alias("we_keywords_raw"),
        F.concat(
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
            F.lit("Z"),
        ).alias("we_system_time"),
        (i + 100000).alias("we_record_id"),
        F.when(u % 5 != 0, u + 100).alias("we_pid"),
        F.when(u % 5 != 0, u + 200).alias("we_tid"),
        F.when(i % 7 == 0, F.lit("Security")).otherwise("Application").alias("we_channel"),
        F.concat(F.lit("host-"), (u % 10).cast("string")).alias("we_computer"),
        F.when(i % 7 == 0, F.concat(F.lit("S-1-5-"), u.cast("string"))).alias("we_user_id"),
        F.concat(
            F.lit('<Data Name="k1">'), F.col("event_type"), F.lit("</Data>"),
            F.lit('<Data Name="k2">'), (i % 50).cast("string"), F.lit("</Data>"),
            F.when(i % 3 == 0, F.concat(F.lit("<Data>anon-"), i.cast("string"), F.lit("</Data>")))
            .otherwise(""),
        ).alias("we_data_xml"),
        F.when(i % 2 == 0, F.concat(F.lit("msg "), F.col("event_type"))).alias("we_message"),
        F.element_at(
            F.array(F.lit("Information"), F.lit("Error"), F.lit("Warning"), F.lit("Critical")),
            (u % 4 + 1).cast("int"),
        ).alias("we_level_rendered"),
        F.concat(F.lit("T"), (i % 20).cast("string")).alias("we_task_rendered"),
        F.lit("Op").alias("we_opcode_rendered"),
        F.concat(
            F.lit("<Keyword>Audit Success</Keyword>"),
            F.when(u % 2 == 0, F.lit("<Keyword>KW2</Keyword>")).otherwise(""),
        ).alias("we_keywords_rendered_xml"),
    )
    out = parse_windows_event(
        render_windows_event(fixture).select("event_id", "body"), "body"
    )
    return out.select(
        "event_id", "we_id", "we_qualifiers", "we_provider", "we_provider_guid",
        "we_computer", "we_channel", "we_record_id", "we_system_time", "we_ts_us",
        "we_level", "we_task", "we_opcode", "we_keywords_csv", "we_severity",
        "we_severity_num", "we_message", "we_event_data_csv", "we_user_id",
        "we_pid", "we_tid", "we_version",
    )


def q_sflow(spark, sf_dir):
    """sFlow v5 datagram decode (the netflowreceiver's third scheme): one
    row per flow sample, src/dst/ports reconstructed from the sampled
    Ethernet+IPv4+L4 header record exactly as goflow2 does."""
    from ..operators.netflow import parse_sflow, synthesize_sflow

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    out = parse_sflow(synthesize_sflow(ev), "payload")
    return out.select(
        "event_id", "nf_type", "nf_src_addr", "nf_src_port", "nf_dst_addr",
        "nf_dst_port", "nf_transport", "nf_etype", "nf_bytes", "nf_packets",
        "nf_sequence_num", "nf_sampling_rate", "nf_tcp_flags", "nf_in_if",
        "nf_out_if",
    )


def q_signalfx_pb(spark, sf_dir):
    """SignalFx v2 datapoint protobuf (the sfxpb DataPointUploadMessage the
    signalfxreceiver unmarshals on /v2/datapoint): one row per datapoint,
    int-vs-double Datum dispatch, metricType enum names, sorted dims."""
    from ..operators.otlp_pb import parse_signalfx, synthesize_signalfx

    ev = _events(spark, sf_dir).select("event_id", "event_type", "user_id", "value")
    out = parse_signalfx(synthesize_signalfx(ev), "payload")
    return out.select(
        "event_id", "sfx_metric", "sfx_type", "sfx_source", "sfx_ts_ms",
        "sfx_value", "sfx_is_int", "sfx_dims_csv",
    )


# ---------------------------------------------------------------------------
# transformprocessor metric-context editors (operators/metric_editors.py)
# ---------------------------------------------------------------------------

_HIST_BOUNDS = [1.0, 5.0, 10.0, 50.0, 100.0]


def _hist_dp_with_minmax(spark, sf_dir):
    """Explicit-bucket histogram datapoints per event_type WITH min/max —
    the shape extract_percentile_metric interpolates over."""
    ev = _events(spark, sf_dir)
    v = F.col("value")
    bucket_sums = []
    prev = None
    for b in _HIST_BOUNDS:
        cond = v <= F.lit(b) if prev is None else (v > F.lit(prev)) & (v <= F.lit(b))
        bucket_sums.append(F.sum(F.when(cond, 1).otherwise(0)).cast("bigint"))
        prev = b
    bucket_sums.append(F.sum(F.when(v > F.lit(_HIST_BOUNDS[-1]), 1).otherwise(0)).cast("bigint"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("h_count"),
        F.sum(v.cast("decimal(18,6)")).cast("double").alias("h_sum"),
        F.min(v).alias("h_min"),
        F.max(v).alias("h_max"),
        F.array(*bucket_sums).alias("bucket_counts"),
    )


def q_metric_editor_chain(spark, sf_dir):
    """Numeric editor chain: convert_gauge_to_sum (cumulative, monotonic) ->
    scale_metric(0.5, unit swap) -> copy_metric rename — one row per
    datapoint per metric (original + copy), double AND int value families
    (the int family exercises the reference's int64(float64(v)*m)
    truncation, func_scale.go scaleMetric). 0.5 is binary-exact so no
    rounding is needed for cross-engine parity. Pure projections + one
    union: scan-speed at any size."""
    from ..operators.metric_editors import convert_gauge_to_sum, copy_metric, scale_metric

    ev = _events(spark, sf_dir)
    dbl = ev.select(
        "event_id",
        F.lit("events.value").alias("metric_name"),
        F.lit("Gauge").alias("metric_type"),
        F.lit("ms").alias("metric_unit"),
        F.col("value").cast("double").alias("value"),
    )
    dbl = convert_gauge_to_sum(dbl, "cumulative", monotonic=True)
    dbl = scale_metric(dbl, 0.5, unit="s")
    dbl = copy_metric(dbl, name="events.value.copy", unit="1")
    ints = ev.select(
        "event_id",
        F.lit("events.points").alias("metric_name"),
        F.lit("Gauge").alias("metric_type"),
        F.lit("1").alias("metric_unit"),
        F.pmod(F.col("event_id") * 7 - 3, F.lit(1000)).cast("bigint").alias("value"),
    )
    ints = convert_gauge_to_sum(ints, "delta", monotonic=False)
    ints = scale_metric(ints, 0.5)
    out = dbl.withColumn("value", F.col("value")).unionByName(
        ints.withColumn("value", F.col("value").cast("double"))
    )
    return out.select(
        "event_id", "metric_name", "metric_type", "metric_unit",
        "metric_aggregation_temporality", "metric_is_monotonic", "value",
    )


def q_metric_extract_hist(spark, sf_dir):
    """extract_count_metric + extract_sum_metric + extract_percentile_metric
    over per-event_type histogram datapoints. The p90 value is the
    reference's linear interpolation (calculateHistogramPercentile) — the
    oracle mirrors the bucket walk + interpolation arithmetic exactly."""
    from ..operators.metric_editors import (
        extract_count_metric,
        extract_percentile_metric,
        extract_sum_metric,
    )

    dp = _hist_dp_with_minmax(spark, sf_dir).withColumn(
        "metric_name", F.lit("events.latency")
    ).withColumn("metric_unit", F.lit("ms"))
    cnt = extract_count_metric(dp, monotonic=True).select(
        "event_type", "metric_name", "metric_unit", F.col("value").cast("double").alias("value")
    )
    sm = extract_sum_metric(dp).select(
        "event_type", "metric_name", "metric_unit", F.col("value").alias("value")
    )
    p90 = extract_percentile_metric(dp, 90.0, _HIST_BOUNDS).select(
        "event_type", "metric_name", "metric_unit", F.col("value").alias("value")
    )
    return cnt.unionByName(sm).unionByName(p90)


def q_metric_summary_editors(spark, sf_dir):
    """convert_summary_{count,sum,quantile}_val_to_{sum,gauge} over synthetic
    per-event_type summary datapoints (quantile values are deterministic
    min+q*(max-min) arithmetic so both engines compute identical doubles)."""
    from ..operators.metric_editors import (
        convert_summary_count_val_to_sum,
        convert_summary_quantile_val_to_gauge,
        convert_summary_sum_val_to_sum,
    )

    ev = _events(spark, sf_dir)
    v = F.col("value")
    spread = F.col("s_max") - F.col("s_min")
    dp = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("s_count"),
            F.sum(v.cast("decimal(18,6)")).cast("double").alias("s_sum"),
            F.min(v).alias("s_min"),
            F.max(v).alias("s_max"),
        )
        .withColumn(
            "quantiles",
            F.array(
                F.struct(
                    F.lit(0.5).alias("quantile"),
                    (F.col("s_min") + F.lit(0.5) * spread).alias("value"),
                ),
                F.struct(
                    F.lit(0.9).alias("quantile"),
                    (F.col("s_min") + F.lit(0.9) * spread).alias("value"),
                ),
            ),
        )
        .withColumn("metric_name", F.lit("events.rt"))
        .withColumn("metric_unit", F.lit("s"))
        .drop("s_min", "s_max")
    )
    c = convert_summary_count_val_to_sum(dp, "delta", monotonic=False).select(
        "event_type", "metric_name", "metric_type", "metric_aggregation_temporality",
        F.lit(None).cast("double").alias("quantile"), F.col("value").cast("double").alias("value"),
    )
    s = convert_summary_sum_val_to_sum(dp).select(
        "event_type", "metric_name", "metric_type", "metric_aggregation_temporality",
        F.lit(None).cast("double").alias("quantile"), F.col("value").alias("value"),
    )
    g = convert_summary_quantile_val_to_gauge(dp).select(
        "event_type", "metric_name", "metric_type",
        F.lit(None).cast("string").alias("metric_aggregation_temporality"),
        "quantile", F.col("value").alias("value"),
    )
    return c.unionByName(s).unionByName(g)


_EXP_BOUNDS = [0.0, 3.0, 12.0, 50.0, 200.0]


def q_metric_exp_to_explicit(spark, sf_dir):
    """convert_exponential_histogram_to_histogram at all three deterministic
    distributions (upper / midpoint / uniform) over integer-synthesized
    exponential datapoints (mixed scale 0/1, offsets -1..1). bounds[0]==0 so
    the zero-count lands in bucket 0 (:115-117). Explicit bounds sit >=5%
    away from every 2^(k/2) exp-bucket bound, so the exp()-based comparisons
    can't flip on cross-engine 1-ulp noise."""
    from ..operators.metric_editors import convert_exponential_histogram_to_histogram

    ev = _events(spark, sf_dir)
    cells = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("h_count"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("h_sum"),
            F.sum(F.when(F.pmod(F.col("event_id"), F.lit(9)) == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("zero_count"),
            *[
                F.sum(F.when(F.pmod(F.col("event_id"), F.lit(6)) == j, 1).otherwise(0))
                .cast("bigint")
                .alias(f"_c{j}")
                for j in range(6)
            ],
        )
        .select(
            "event_type",
            F.pmod(F.length("event_type"), F.lit(2)).cast("int").alias("scale"),
            "zero_count",
            (F.pmod(F.length("event_type"), F.lit(3)) - 1).cast("int").alias("offset"),
            F.array(*[F.col(f"_c{j}") for j in range(6)]).alias("bucket_counts"),
            "h_count",
            "h_sum",
        )
    )
    outs = []
    for algo in ("upper", "midpoint", "uniform"):
        conv = convert_exponential_histogram_to_histogram(cells, algo, _EXP_BOUNDS)
        outs.append(
            conv.select(
                "event_type",
                F.lit(algo).alias("algo"),
                "h_count",
                "h_sum",
                F.array_join(
                    F.transform(F.col("bucket_counts"), lambda x: x.cast("string")), ","
                ).alias("buckets_csv"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_metric_agg_attr_value(spark, sf_dir):
    """aggregate_on_attribute_value: host cells '0'/'1' merge under 'low',
    then datapoints group-merge per (env, host, ts-window) with the `sum`
    aggregation (func_agregate_on_attribute_value_metrics.go:45-71 +
    aggregateutil merge). Decimal value keeps the cross-engine sum exact."""
    from ..operators.metric_editors import aggregate_on_attribute_value

    ev = _events(spark, sf_dir)
    dp = ev.select(
        F.col("event_type").alias("env"),
        F.pmod(F.col("user_id"), F.lit(4)).cast("string").alias("host"),
        (F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600) * 3600)
        .cast("bigint")
        .alias("ts_h"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    out = aggregate_on_attribute_value(
        dp, "sum", attribute="host", values=["0", "1"], new_value="low",
        value_col="value", ts_col="ts_h",
    )
    return out.select(
        "env", "host", "ts_h", F.col("value").cast("double").alias("value")
    )


# ---------------------------------------------------------------------------
# spanpruningprocessor (operators/span_pruning.py)
# ---------------------------------------------------------------------------


def _pruning_flat_spans(spark, sf_dir):
    """Flat synthetic traces from events: one root per trace + one leaf per
    event. Leaf groups = (trace, name, status) since kind/parent/depth are
    constant."""
    ev = _events(spark, sf_dir)
    t = F.concat(F.lit("tr"), F.pmod(F.col("user_id"), F.lit(200)).cast("string"))
    start = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    dur = F.expr("CAST(value * 1000 AS BIGINT)")
    leaves = ev.select(
        t.alias("trace_id"),
        F.concat(F.lit("s"), F.col("event_id").cast("string")).alias("span_id"),
        F.concat(F.lit("root-"), t).alias("parent_span_id"),
        F.col("event_type").alias("name"),
        F.lit("Client").alias("kind"),
        F.when(F.col("value") > 100, F.lit("Error")).otherwise(F.lit("Ok")).alias("status"),
        start.alias("start_ns"),
        (start + dur).alias("end_ns"),
    )
    roots = leaves.select("trace_id").distinct().select(
        "trace_id",
        F.concat(F.lit("root-"), F.col("trace_id")).alias("span_id"),
        F.lit("").alias("parent_span_id"),
        F.lit("svc").alias("name"),
        F.lit("Server").alias("kind"),
        F.lit("Unset").alias("status"),
        F.lit(0).cast("bigint").alias("start_ns"),
        F.lit(0).cast("bigint").alias("end_ns"),
    )
    return leaves.unionByName(roots)


_PRUNE_COLS = [
    "trace_id", "span_id", "parent_span_id", "name", "status", "is_summary",
    "agg_span_count", "agg_duration_min_ns", "agg_duration_max_ns",
    "agg_duration_total_ns", "agg_duration_avg_ns", "start_ns", "end_ns",
]


def q_span_pruning_flat(spark, sf_dir):
    """spanpruning leaf aggregation over flat traces: every (trace, name,
    status) leaf group of >=5 spans collapses into one summary with
    count/min/max/total/avg duration stats and deterministic
    md5(trace|group_key) summary ids; smaller groups pass through."""
    from ..operators.span_pruning import span_pruning

    out = span_pruning(
        _pruning_flat_spans(spark, sf_dir), min_spans_to_aggregate=5, max_parent_depth=0
    )
    return out.select(*_PRUNE_COLS)


def q_span_pruning_tree(spark, sf_dir):
    """spanpruning parent aggregation: root -> 3 'handler' parents -> leaves.
    A handler is eligible only when ALL its children aggregated
    (processor.go isEligibleForParentAggregation); eligible handlers group
    per trace (>=2) into a parent summary, and the leaf summary reparents
    onto the parent summary when the group's FIRST leaf's handler was
    replaced (aggregation.go:95-101)."""
    from ..operators.span_pruning import span_pruning

    ev = _events(spark, sf_dir)
    t = F.concat(F.lit("tr"), F.pmod(F.col("user_id"), F.lit(200)).cast("string"))
    hidx = F.pmod(F.col("event_id"), F.lit(3))
    hid = F.concat(F.lit("h"), hidx.cast("string"), F.lit("-"), t)
    start = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    dur = F.expr("CAST(value * 1000 AS BIGINT)")
    leaves = ev.select(
        t.alias("trace_id"),
        F.concat(F.lit("s"), F.col("event_id").cast("string")).alias("span_id"),
        hid.alias("parent_span_id"),
        F.col("event_type").alias("name"),
        F.lit("Client").alias("kind"),
        F.lit("Ok").alias("status"),
        start.alias("start_ns"),
        (start + dur).alias("end_ns"),
    )
    handlers = ev.select(t.alias("trace_id"), hidx.alias("hidx")).distinct().select(
        "trace_id",
        F.concat(F.lit("h"), F.col("hidx").cast("string"), F.lit("-"), F.col("trace_id")).alias("span_id"),
        F.concat(F.lit("root-"), F.col("trace_id")).alias("parent_span_id"),
        F.lit("handler").alias("name"),
        F.lit("Client").alias("kind"),
        F.lit("Unset").alias("status"),
        F.col("hidx").cast("bigint").alias("start_ns"),
        (F.col("hidx") + F.lit(10_000_000)).cast("bigint").alias("end_ns"),
    )
    roots = ev.select(t.alias("trace_id")).distinct().select(
        "trace_id",
        F.concat(F.lit("root-"), F.col("trace_id")).alias("span_id"),
        F.lit("").alias("parent_span_id"),
        F.lit("svc").alias("name"),
        F.lit("Server").alias("kind"),
        F.lit("Unset").alias("status"),
        F.lit(0).cast("bigint").alias("start_ns"),
        F.lit(0).cast("bigint").alias("end_ns"),
    )
    spans = leaves.unionByName(handlers).unionByName(roots)
    out = span_pruning(spans, min_spans_to_aggregate=5, max_parent_depth=1)
    return out.select(*_PRUNE_COLS)


def q_span_pruning_outliers(spark, sf_dir):
    """spanpruning with IQR outlier preservation (outlier.go:120-162):
    per leaf group of >=7 spans, outliers (duration > max(q3+1.5*IQR,
    median*1.1)) are preserved as siblings of the summary with back-links;
    the group still aggregates only when >=5 non-outliers remain."""
    from ..operators.span_pruning import span_pruning

    out = span_pruning(
        _pruning_flat_spans(spark, sf_dir),
        min_spans_to_aggregate=5,
        max_parent_depth=0,
        outlier={"method": "iqr", "preserve_outliers": True, "max_preserved_outliers": 0},
    )
    return out.select(
        *_PRUNE_COLS, "agg_duration_median_ns", "agg_preserved_outlier_count",
        "agg_preserved_outlier_span_ids", "agg_is_preserved_outlier", "agg_summary_span_id",
    )


# ---------------------------------------------------------------------------
# CEF / LEEF / CLF parsers (operators/logformats.py) — render->parse round
# trips; the oracle reconstructs the expected fields from the source columns
# ---------------------------------------------------------------------------


def _map_csv(col: str) -> F.Column:
    return F.array_join(
        F.array_sort(
            F.transform(F.map_entries(F.col(col)), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        "\x1e",
    )


def q_cef_roundtrip(spark, sf_dir):
    """ParseCEF round trip: header fields carry pipes and backslashes,
    extension values carry '=' and newlines — every escape class of
    func_parse_cef.go exercised and recovered."""
    from ..operators.logformats import parse_cef, render_cef

    ev = _events(spark, sf_dir)
    rendered = render_cef(
        ev,
        vendor=F.concat(F.lit("Acme|"), F.col("event_type")),
        product=F.lit("threat\\manager"),
        device_version=F.lit("1.0"),
        event_class_id=F.pmod(F.col("event_id"), F.lit(100)).cast("string"),
        name=F.concat(F.lit("ev "), F.col("event_type")),
        severity=F.pmod(F.col("event_id"), F.lit(10)).cast("string"),
        extensions=[
            ("msg", F.concat(F.col("props"), F.lit("=\n"), F.lit("tail"))),
            ("src", F.col("user_id").cast("string")),
        ],
        syslog_prefix=F.lit("<134>Sep 19 08:26:10 host "),
    )
    out = parse_cef(rendered, "body")
    return out.select(
        "event_id", "cef_version", "cef_device_vendor", "cef_device_product",
        "cef_device_event_class_id", "cef_name", "cef_severity",
        _map_csv("cef_extensions").alias("ext_csv"),
    )


def q_leef_roundtrip(spark, sf_dir):
    """ParseLEEF round trip across BOTH header versions (even event_id ->
    LEEF:1.0 tab-delimited, odd -> LEEF:2.0 with a 0x5e hex delimiter) with
    spaces and '=' inside attribute values."""
    from ..operators.logformats import parse_leef, render_leef

    ev = _events(spark, sf_dir)
    rendered = render_leef(
        ev,
        vendor=F.lit("IBM"),
        product=F.col("event_type"),
        product_version=F.lit("7.3"),
        event_id=F.concat(F.lit("E"), F.pmod(F.col("event_id"), F.lit(50)).cast("string")),
        attributes=[
            ("usrName", F.concat(F.lit("u"), F.col("user_id").cast("string"))),
            ("url", F.concat(F.lit("http://x?k="), F.col("event_id").cast("string"))),
            ("msg", F.col("props")),
        ],
        version=F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit("1.0")).otherwise(F.lit("2.0")),
        delimiter_spec="0x5e",
    )
    out = parse_leef(rendered, "body")
    return out.select(
        "event_id", "leef_version", "leef_vendor", "leef_product_name",
        "leef_product_version", "leef_event_id",
        _map_csv("leef_attributes").alias("attrs_csv"),
    )


def q_clf_roundtrip(spark, sf_dir):
    """ParseCLF (combined) round trip: quoted fields carry quotes and
    backslashes (mod_log_config escapes), '-' bytes maps to NULL, request
    splits into method/uri/protocol."""
    from ..operators.logformats import parse_clf, render_clf

    ev = _events(spark, sf_dir)
    rendered = render_clf(
        ev,
        remote_host=F.concat(F.lit("10.0."), F.pmod(F.col("user_id"), F.lit(256)).cast("string"), F.lit(".1")),
        auth_user=F.concat(F.lit("u"), F.col("user_id").cast("string")),
        timestamp=F.lit("10/Oct/2000:13:55:36 -0700"),
        request=F.concat(
            F.lit('GET /p/'), F.col("event_id").cast("string"),
            F.lit('?q="'), F.col("event_type"), F.lit('" HTTP/1.1'),
        ),
        status=(F.lit(200) + F.pmod(F.col("event_id"), F.lit(4)) * 100).cast("bigint"),
        nbytes=F.when(F.pmod(F.col("event_id"), F.lit(5)) != 0, F.col("event_id")),
        referer=F.concat(F.lit("http://r.example/"), F.col("event_type"), F.lit('/"q"')),
        user_agent=F.lit("agent\\v1"),
    )
    out = parse_clf(rendered, "body", format="combined")
    return out.select(
        "event_id", "clf_remote_host", "clf_auth_user", "clf_timestamp",
        "clf_request", "clf_method", "clf_request_uri", "clf_protocol",
        "clf_status", "clf_bytes", "clf_referer", "clf_user_agent",
    )


def q_statsd_flush(spark, sf_dir):
    """statsdreceiver flush aggregation over synthesized statsd lines:
    counters with and without sample rates (1/0.5 scaling), gauges with
    reset/+/- relative-move semantics ordered by event_id, and timers as
    weighted summaries (weight 4 via @0.25) with gonum-empirical q50/q95.
    Values are integers and weights binary fractions so every double sum
    is exact and order-independent (cross-engine hash-safe)."""
    from ..operators.aggregate import statsd_aggregate

    ev = _events(spark, sf_dir)
    k = F.pmod(F.col("event_id"), F.lit(4))
    v = (F.pmod(F.col("event_id"), F.lit(97)) + 1).cast("string")
    sign = F.pmod(F.col("event_id"), F.lit(3))
    tags = F.concat(
        F.lit("|#host:h"), F.pmod(F.col("user_id"), F.lit(3)).cast("string"), F.lit(",env:prod")
    )
    name = F.concat(F.lit("m."), F.col("event_type"))
    gauge_val = (
        F.when(sign == 0, v)
        .when(sign == 1, F.concat(F.lit("+"), v))
        .otherwise(F.concat(F.lit("-"), v))
    )
    line = (
        F.when(k == 0, F.concat(name, F.lit(":"), v, F.lit("|c"), tags))
        .when(k == 1, F.concat(name, F.lit(":"), v, F.lit("|c|@0.5"), tags))
        .when(k == 2, F.concat(name, F.lit(":"), gauge_val, F.lit("|g"), tags))
        .otherwise(
            F.concat(
                name, F.lit(":"), v, F.lit("|ms"),
                F.when(F.pmod(F.col("event_id"), F.lit(8)) != 3, F.lit("|@0.25")).otherwise(F.lit("")),
                tags,
            )
        )
    )
    out = statsd_aggregate(
        ev.withColumn("body", line), "body", order_col="event_id", percentiles=(50.0, 95.0)
    )
    return out.select("st_name", "st_tags_csv", "kind", "value", "s_count", "s_sum", "q50", "q95")


def q_carbon_render_roundtrip(spark, sf_dir):
    """carbonexporter plaintext render -> carbonreceiver parse: tagged
    metric path, int-vs-double dispatch, exact unix-seconds timestamps."""
    from ..operators.parse import parse_carbon
    from ..operators.render import render_carbon

    ev = _events(spark, sf_dir)
    rendered = render_carbon(
        ev,
        name=F.concat(F.lit("sys."), F.col("event_type")),
        value=F.pmod(F.col("event_id"), F.lit(1000)),
        ts_s=F.unix_timestamp(F.col("ts").cast("timestamp")),
        tags=[
            ("host", F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(5)).cast("string"))),
            ("dc", F.concat(F.lit("dc"), F.pmod(F.col("user_id"), F.lit(3)).cast("string"))),
        ],
    )
    out = parse_carbon(rendered, "body")
    return out.select("event_id", "cb_name", "cb_tags_csv", "cb_value", "cb_is_int", "cb_ts_us")


def q_loki_render_roundtrip(spark, sf_dir):
    """lokiexporter push-JSON render -> lokireceiver parse: JSON-escaped
    log lines (props carries quotes), sorted label CSV, exact ns->us
    timestamp truncation."""
    from ..operators.parse import loki_json_push
    from ..operators.render import render_loki_push

    ev = _events(spark, sf_dir)
    rendered = render_loki_push(
        ev,
        labels=[("app", F.col("event_type")), ("env", F.lit("prod"))],
        ts_ns=F.unix_micros(F.col("ts").cast("timestamp")) * 1000,
        line=F.col("props"),
    )
    out = loki_json_push(rendered, "body")
    return out.select(
        "event_id", "labels_csv", F.unix_micros(F.col("line_ts")).alias("line_ts_us"), "line"
    )


def q_otlpjson_render_roundtrip(spark, sf_dir):
    """OTLP/JSON LogsData marshal (fileexporter otlp_json encoding) ->
    otlpjsonconnector parse: render∘parse must be the identity on body,
    timestamps, severities, and resource/log attributes."""
    from ..operators.parse import otlp_json_logs
    from ..operators.render import render_otlp_json_logs

    ev = _events(spark, sf_dir)
    rendered = render_otlp_json_logs(
        ev,
        body=F.col("props"),
        time_unix_nano=F.unix_micros(F.col("ts").cast("timestamp")) * 1000,
        severity_text=F.upper(F.col("event_type")),
        severity_number=(F.pmod(F.col("event_id"), F.lit(24)) + 1).cast("int"),
        resource_attrs=[("service.name", F.concat(F.lit("svc-"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")))],
        log_attrs=[("etype", F.col("event_type"))],
        scope_name=F.lit("render"),
    )
    out = otlp_json_logs(rendered.select("event_id", "payload"), "payload")
    return out.select(
        "event_id",
        F.element_at(F.col("resource_attrs"), "service.name").alias("service_name"),
        "scope_name", "time_unix_nano", "severity_text", "severity_number", "body",
        F.element_at(F.col("log_attrs"), "etype").alias("attr_etype"),
    )


def _apm_span_frame(spark, sf_dir):
    """Deterministic span view for the datadogconnector analogue: per user
    one root whose children parent to it, service mapped from event_type so
    children on a different service than the root are top-level, kinds cycle
    through eligible/ineligible values, durations are integer-exact."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w)
    svc = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("frontend"))
        .when(F.col("event_type") == "error", F.lit("backend"))
        .otherwise(F.lit("payments"))
    )
    k = F.col("event_id") % 5
    kind = (
        F.when(k == 0, F.lit("server"))
        .when(k == 2, F.lit("client"))
        .when(k == 3, F.lit("producer"))
        .otherwise(F.lit("internal"))
    )
    return ev.select(
        F.concat(F.lit("tr-"), F.col("user_id").cast("string")).alias("trace_id"),
        F.concat(F.lit("s"), F.lpad(rn.cast("string"), 6, "0")).alias("span_id"),
        F.when(rn == 1, F.lit(None).cast("string"))
        .otherwise(F.lit("s000001"))
        .alias("parent_span_id"),
        svc.alias("service"),
        F.col("event_type").alias("resource"),
        kind.alias("kind"),
        F.when(F.col("event_type") == "error", F.lit(500)).otherwise(F.lit(200)).alias("status_code"),
        (F.col("event_type") == "error").alias("is_error"),
        F.when(F.col("user_id") % 2 == 0, F.lit("prod")).otherwise(F.lit("staging")).alias("env"),
        F.col("ts").alias("end_ts"),
        ((F.col("event_id") % 9973) * ((F.col("event_id") % 31) + 1) + 1)
        .cast("long")
        .alias("duration_ns"),
    )


def q_apm_stats(spark, sf_dir):
    """datadogconnector APM stats: top-level detection by real parent join,
    kind-widened eligibility, hourly buckets, hit/error/duration rollup and
    integer-exact sketch rank-quantiles of the ok distribution."""
    from ..operators.apm_stats import apm_stats, mark_top_level

    spans = mark_top_level(_apm_span_frame(spark, sf_dir))
    out = apm_stats(spans, bucket_s=3600, compute_stats_by_span_kind=True)
    return out.select(
        "bucket_start", "env", "service", "resource", "kind", "status_code",
        "hits", "errors", "top_level_hits", "duration_ns",
        "ok_p50_ns", "ok_p95_ns", "ok_p99_ns",
    )


def q_haproxy_stats(spark, sf_dir):
    """haproxyreceiver round trip: render `show stat` record lines (frontend
    rows leave server-only slots empty and vice versa, exactly like the real
    CSV), parse them back through the header-positioned projection, and
    surface the scraper.go field set — empty slots must come back NULL."""
    from ..operators.haproxy import parse_haproxy_stats, render_haproxy_stat

    ev = _events(spark, sf_dir)
    e = F.col("event_id")
    u = F.col("user_id")
    is_fe = u % 3 == 0
    fields = {
        "pxname": F.concat(F.lit("px-"), F.col("event_type")),
        "svname": F.when(is_fe, F.lit("FRONTEND"))
        .when(u % 3 == 1, F.lit("BACKEND"))
        .otherwise(F.concat(F.lit("srv"), (u % 4).cast("string"))),
        "status": F.when(is_fe, F.lit("OPEN"))
        .when(e % 7 == 0, F.lit("DOWN"))
        .otherwise(F.lit("UP")),
        "scur": e % 100,
        "slim": F.when(is_fe, F.lit(524268)),
        "stot": e % 100000,
        "bin": (e * 3) % 1000000,
        "bout": (e * 7) % 1000000,
        "dreq": F.when(is_fe, e % 5),
        "ereq": F.when(is_fe, e % 3),
        "econ": F.when(~is_fe, e % 4),
        "eresp": F.when(~is_fe, e % 6),
        "wretr": F.when(~is_fe, e % 2),
        "weight": F.when(~is_fe, F.lit(100)),
        "act": F.when(~is_fe, F.lit(1)),
        "bck": F.when(~is_fe, F.lit(0)),
        "lbtot": F.when(~is_fe, e % 50000),
        "cli_abrt": e % 9,
        "srv_abrt": F.when(~is_fe, e % 8),
        "rtime": F.when(~is_fe, e % 750),
        "ttime": F.when(~is_fe, e % 2000),
        "conn_rate": F.when(is_fe, e % 40),
        "conn_tot": F.when(is_fe, e % 90000),
        "req_tot": F.when(is_fe, e % 80000),
        "hrsp_2xx": e % 70000,
        "hrsp_5xx": e % 11,
    }
    rendered = render_haproxy_stat(ev, fields)
    out = parse_haproxy_stats(rendered, "body")
    return out.where(F.col("hap_pxname").isNotNull()).select(
        "event_id", "hap_pxname", "hap_svname", "hap_status", "hap_scur",
        "hap_slim", "hap_stot", "hap_bin", "hap_bout", "hap_econ", "hap_weight",
        "hap_act", "hap_bck", "hap_lbtot", "hap_conn_rate", "hap_conn_tot",
        "hap_req_tot", "hap_hrsp_2xx", "hap_hrsp_5xx", "hap_rtime", "hap_ttime",
    )


def q_remote_tap(spark, sf_dir):
    """remotetapprocessor: deterministic per-second tap budget. The fixture
    compresses each hour to one limiter 'second' so the 1-row-per-2-min
    events table actually exercises the cap (5 per bucket)."""
    from ..operators.filter import remote_tap

    ev = _events(spark, sf_dir).withColumn(
        "tap_ts",
        F.timestamp_seconds(
            (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)).cast("long")
        ),
    )
    out = remote_tap(ev, 5, ts_col="tap_ts", order_cols=("event_id",))
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("tap_ts").cast("timestamp")).alias("tap_sec_us"),
    )


def q_influx_render_roundtrip(spark, sf_dir):
    """influxdbexporter line-protocol render -> influxdbreceiver parse:
    tags render unsorted and come back sorted, integer fields, exact ns
    timestamp via digit-string truncation."""
    from ..operators.parse import parse_influx_line
    from ..operators.render import render_influx_line

    ev = _events(spark, sf_dir)
    rendered = render_influx_line(
        ev,
        measurement=F.concat(F.lit("app_"), F.col("event_type")),
        tags=[
            ("host", F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string"))),
            ("dc", F.concat(F.lit("dc"), (F.col("user_id") % 3).cast("string"))),
        ],
        fields=[
            ("v1", F.col("event_id") % 1000),
            ("v2", F.col("user_id") % 7),
        ],
        ts_ns=F.unix_micros(F.col("ts").cast("timestamp")) * 1000,
    )
    out = parse_influx_line(rendered, "body")
    return out.select(
        "event_id",
        "il_measurement",
        "il_tags_csv",
        "il_fields_csv",
        F.unix_micros(F.col("il_ts").cast("timestamp")).alias("il_ts_us"),
    )


def q_zipkin_render_roundtrip(spark, sf_dir):
    """zipkinexporter v2 JSON render -> zipkinreceiver parse: span-array
    envelope, µs integrity, tag map back as sorted CSV."""
    from ..operators.parse import zipkin_json_spans
    from ..operators.render import render_zipkin_json

    ev = _events(spark, sf_dir)
    rendered = render_zipkin_json(
        ev,
        trace_id=F.lpad(F.conv(F.col("user_id").cast("string"), 10, 16), 32, "0"),
        span_id=F.lpad(F.conv(F.col("event_id").cast("string"), 10, 16), 16, "0"),
        parent_id=F.when(F.col("event_id") % 3 == 0, F.lit("00000000deadbeef")),
        name=F.col("event_type"),
        kind=F.when(F.col("event_id") % 2 == 0, F.lit("SERVER")).otherwise(F.lit("CLIENT")),
        ts_us=F.unix_micros(F.col("ts").cast("timestamp")),
        duration_us=F.col("event_id") % 1000000 + 1,
        service_name=F.concat(F.lit("svc-"), (F.col("user_id") % 4).cast("string")),
        tags=[("peer", F.concat(F.lit("p"), (F.col("user_id") % 7).cast("string")))],
    )
    out = zipkin_json_spans(rendered.select("event_id", "body"), "body")
    return out.select(
        "event_id", "trace_id", "span_id", "parent_span_id", "span_name",
        "span_kind", "ts_us", "duration_us", "service_name", "tags_csv",
    )


def q_emf_render_roundtrip(spark, sf_dir):
    """awsemfexporter EMF V1 render -> parse: the _aws directive declares
    namespace/dimensions/metrics, values resolve from sibling top-level
    fields, one output row per declared metric."""
    from ..operators.parse import parse_emf
    from ..operators.render import render_emf

    ev = _events(spark, sf_dir)
    rendered = render_emf(
        ev,
        namespace="App/Events",
        dimensions=[
            ("EventType", F.col("event_type")),
            ("Env", F.when(F.col("user_id") % 2 == 0, F.lit("prod")).otherwise(F.lit("staging"))),
        ],
        metrics=[
            ("Latency", "Milliseconds", F.col("value")),
            ("Count", "Count", (F.col("event_id") % 50).cast("double")),
        ],
        ts_ms=F.unix_millis(F.col("ts").cast("timestamp")),
    )
    out = parse_emf(rendered.select("event_id", "body"), "body")
    return out.select(
        "event_id", "emf_namespace", "emf_ts_ms", "emf_dims_csv",
        "emf_metric", "emf_unit", "emf_value",
    )


def q_wavefront_render_roundtrip(spark, sf_dir):
    """Wavefront plaintext render -> wavefrontreceiver parse: optional
    timestamp slot (omitted rows come back NULL), ParseInt-first value
    dispatch, tags rendered unsorted and parsed back sorted."""
    from ..operators.parse import parse_wavefront
    from ..operators.render import render_wavefront

    ev = _events(spark, sf_dir)
    rendered = render_wavefront(
        ev,
        name=F.concat(F.lit("app."), F.col("event_type")),
        value=F.when(
            F.col("event_id") % 4 == 0, (F.col("event_id") % 100).cast("long").cast("string")
        ).otherwise(F.col("value").cast("string")),
        ts_s=F.when(
            F.col("event_id") % 5 != 0,
            F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000).cast("long"),
        ),
        tags=[
            ("source", F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string"))),
            ("env", F.concat(F.lit("e"), (F.col("user_id") % 3).cast("string"))),
        ],
    )
    out = parse_wavefront(rendered, "body")
    return out.select(
        "event_id", "wf_name", "wf_value", "wf_is_int", "wf_ts_s", "wf_tags_csv"
    )


def q_libhoney_render_roundtrip(spark, sf_dir):
    """Libhoney batch JSON render -> libhoneyreceiver parse: the eventtime
    ladder (16-digit epoch us, 10-digit epoch s, RFC3339), samplerate
    passthrough, service.name-else-dataset, residual data keys as the
    sorted CSV."""
    from ..operators.parse import parse_libhoney
    from ..operators.render import render_libhoney

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    time_str = (
        F.when(F.col("event_id") % 3 == 0, us.cast("string"))
        .when(F.col("event_id") % 3 == 1, (us / 1_000_000).cast("long").cast("string"))
        .otherwise(F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
    )
    rendered = render_libhoney(
        ev,
        time=time_str,
        samplerate=(F.col("event_id") % 7 + 1).cast("int"),
        data=[
            ("meta.signal_type", F.when(F.col("event_id") % 2 == 0, F.lit("trace")).otherwise(F.lit("log"))),
            ("service.name", F.when(F.col("user_id") % 3 != 0, F.concat(F.lit("svc-"), (F.col("user_id") % 4).cast("string")))),
            ("trace.trace_id", F.lpad(F.conv(F.col("user_id").cast("string"), 10, 16), 32, "0")),
            ("name", F.col("event_type")),
            ("duration_ms", F.col("value")),
            ("region", F.concat(F.lit("r"), (F.col("user_id") % 4).cast("string"))),
            ("team", F.concat(F.lit("t"), (F.col("user_id") % 5).cast("string"))),
        ],
    )
    out = parse_libhoney(rendered.select("event_id", "body"), "body", dataset="events-ds")
    return out.select(
        "event_id", "lh_ts_us", "lh_samplerate", "lh_signal", "lh_service",
        "lh_trace_id", "lh_name", "lh_duration_ms", "lh_data_csv",
    )


def q_xray_render_roundtrip(spark, sf_dir):
    """X-Ray segment render -> awsxrayreceiver-translator parse: wire
    trace-id decode, float-second µs floor, subsegment flattening with
    inherited trace/parent ids, omitempty flag blocks."""
    from ..operators.parse import parse_xray_segment
    from ..operators.render import render_xray_segment, xray_subsegment_struct

    ev = _events(spark, sf_dir)
    sec = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast("bigint")
    start = sec.cast("double") + (F.col("event_id") % 4).cast("double") * 0.25
    end = start + 1.0 + (F.col("event_id") % 2).cast("double") * 0.5
    hex8 = F.lpad(F.conv(sec.cast("string"), 10, 16), 8, "0")
    rendered = render_xray_segment(
        ev,
        trace_id=F.concat(F.lit("1-"), hex8, F.lit("-"), F.lpad(F.conv(F.col("user_id").cast("string"), 10, 16), 24, "0")),
        seg_id=F.lpad(F.conv(F.col("event_id").cast("string"), 10, 16), 16, "0"),
        name=F.col("event_type"),
        start_s=start,
        end_s=end,
        origin=F.when(F.col("user_id") % 2 == 0, F.lit("AWS::EC2::Instance")),
        error=F.col("event_id") % 10 == 0,
        fault=F.col("event_id") % 20 == 0,
        http_status=F.when(F.col("event_id") % 10 == 0, F.lit(404)).otherwise(F.lit(200)),
        annotations=[
            ("client", F.concat(F.lit("c"), (F.col("user_id") % 6).cast("string"))),
            ("tier", F.when(F.col("user_id") % 2 == 0, F.lit("gold"))),
        ],
        subsegment=F.when(
            F.col("event_id") % 3 == 0,
            xray_subsegment_struct(
                seg_id=F.lpad(F.conv((F.col("event_id") + 1).cast("string"), 10, 16), 16, "0"),
                name=F.lit("sql"),
                start_s=start + 0.25,
                end_s=end - 0.25,
                namespace=F.lit("remote"),
            ),
        ),
    )
    out = parse_xray_segment(rendered.select("event_id", "body"), "body")
    return out.select(
        "event_id", "xr_trace_id", "xr_id", "xr_parent_id", "xr_name",
        "xr_start_us", "xr_end_us", "xr_error", "xr_fault", "xr_throttle",
        "xr_http_status", "xr_namespace", "xr_origin", "xr_annotations_csv",
        "xr_is_subsegment",
    )


def q_arrow_ipc_roundtrip(spark, sf_dir):
    """otelarrow wire kernel: pack events into one Arrow IPC stream
    payload per user bucket, unpack back — lossless row/type round trip
    (the oracle is the identity projection over the same table)."""
    from ..operators.arrow_ipc import decode_arrow_ipc, encode_arrow_ipc

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("user_id") % 64).alias("bucket"),
    )
    packed = encode_arrow_ipc(
        ev,
        key_cols=["bucket"],
        sort_cols=["event_id"],
        payload_cols=["event_id", "user_id", "event_type", "value", "ts_us"],
    )
    out = decode_arrow_ipc(
        packed,
        schema="event_id bigint, user_id bigint, event_type string, value double, ts_us bigint",
        passthrough=["bucket", "aip_rows"],
    )
    return out.select(
        "event_id", "user_id", "event_type", "value", "ts_us", "bucket", "aip_rows"
    )


def q_faro_render_roundtrip(spark, sf_dir):
    """Grafana Faro SDK payload render -> faroreceiver/translator parse:
    one log+measurement+event per payload (exception every 7th), kind
    fan-out with the translator's kv conventions (context_/event_data_/
    value_ prefixes, %f measurement rendering, empty-level -> info)."""
    from ..operators.faro import parse_faro, render_faro

    ev = _events(spark, sf_dir)
    rendered = render_faro(
        ev,
        ts=F.col("ts").cast("timestamp"),
        app_name=F.lit("webapp"),
        session_id=F.concat(F.lit("s"), (F.col("user_id") % 100).cast("string")),
        log_message=F.concat(F.lit("evt "), F.col("event_type")),
        log_level=F.when(F.col("event_id") % 3 == 0, F.lit("warn")).otherwise(F.lit("")),
        log_context=[("page", F.concat(F.lit("p"), (F.col("user_id") % 9).cast("string")))],
        exception=(
            F.when(F.col("event_id") % 7 == 0, F.lit("TypeError")),
            F.concat(F.lit("v"), (F.col("event_id") % 10).cast("string")),
        ),
        measurement=(
            F.lit("page_load"),
            [("ttfb", F.col("value")), ("dom", (F.col("event_id") % 500).cast("double"))],
        ),
        event=(F.lit("click"), [("target", F.concat(F.lit("btn"), (F.col("event_id") % 5).cast("string")))]),
    )
    out = parse_faro(rendered.select("event_id", "body"), "body")
    return out.select(
        "event_id", "fr_kind", "fr_timestamp", "fr_level", "fr_message",
        "fr_type", "fr_event_name", "fr_kv_csv", "fr_app_name", "fr_session_id",
    )


def q_cloudflare_logpush(spark, sf_dir):
    """Cloudflare Logpush NDJSON parse with the config attribute mapping:
    zone resource attr, rfc3339 timestamp field, EdgeResponseStatus ->
    severity buckets, mapped-fields-only attribute CSV."""
    from ..operators.parse import parse_cloudflare

    ev = _events(spark, sf_dir)
    st = (
        F.when(F.col("event_id") % 13 == 0, F.lit(503))
        .when(F.col("event_id") % 13 == 1, F.lit(302))
        .when(F.col("event_id") % 13 == 2, F.lit(404))
        .otherwise(F.lit(200))
    )
    rendered = ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.concat(F.lit("zone"), (F.col("user_id") % 4).cast("string"), F.lit(".example.com")).alias("ZoneName"),
                F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("EdgeStartTimestamp"),
                st.cast("long").alias("EdgeResponseStatus"),
                F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".1")).alias("ClientIP"),
                F.when(F.col("event_id") % 2 == 0, F.lit("GET")).otherwise(F.lit("POST")).alias("ClientRequestMethod"),
                F.concat(F.lit("/api/"), F.col("event_type")).alias("ClientRequestURI"),
            )
        ).alias("body"),
    )
    out = parse_cloudflare(
        rendered,
        "body",
        attributes={
            "ClientIP": "http.client_ip",
            "ClientRequestMethod": "http.request.method",
            "ClientRequestURI": "http.url",
        },
    )
    return out.select(
        "event_id", "cf_zone", "cf_ts_us", "cf_severity_num",
        "cf_severity_text", "cf_status", "cf_attrs_csv",
    )


def q_alertmanager_render_roundtrip(spark, sf_dir):
    """alertmanagerexporter alert-array render -> parse: sanitized label
    keys, severity/event_name labels, Body+TraceID annotations,
    RFC3339-millis startsAt."""
    from ..operators.parse import parse_alertmanager
    from ..operators.render import render_alertmanager

    ev = _events(spark, sf_dir)
    rendered = render_alertmanager(
        ev,
        starts_at=F.col("ts").cast("timestamp"),
        severity=F.when(F.col("event_id") % 5 == 0, F.lit("critical")).otherwise(F.lit("warning")),
        event_name=F.col("event_type"),
        labels=[("service.tier", F.concat(F.lit("t"), (F.col("user_id") % 3).cast("string")))],
        annotations=[("0rate", F.col("value").cast("decimal(18,2)"))],
        body=F.concat(F.lit("event "), F.col("event_id").cast("string")),
        trace_id=F.when(F.col("event_id") % 2 == 0, F.lpad(F.conv(F.col("user_id").cast("string"), 10, 16), 32, "0")),
    )
    out = parse_alertmanager(rendered.select("event_id", "body"), "body")
    return out.select(
        "event_id", "am_severity", "am_event_name", "am_labels_csv",
        "am_body", "am_trace_id", "am_annotations_csv", "am_starts_at",
        "am_generator_url",
    )


def q_azure_logs_roundtrip(spark, sf_dir):
    """Azure resource-log envelope render -> translator parse: records
    explode, time-over-timeStamp preference, Level name/number severity
    dual path, extractRawAttributes set-if-nonempty fields."""
    from ..operators.parse import parse_azure_resource_logs

    ev = _events(spark, sf_dir)
    lvl = (
        F.when(F.col("event_id") % 4 == 0, F.lit("Informational"))
        .when(F.col("event_id") % 4 == 1, F.lit("Warning"))
        .when(F.col("event_id") % 4 == 2, F.lit("Error"))
        .otherwise(F.lit("4"))
    )
    rec = F.struct(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("time"),
        F.concat(
            F.lit("/SUBSCRIPTIONS/S1/RESOURCEGROUPS/rg"),
            (F.col("user_id") % 5).cast("string"),
        ).alias("resourceId"),
        F.lit("AuditLogs").alias("category"),
        F.concat(F.lit("Microsoft.Web/"), F.col("event_type")).alias("operationName"),
        lvl.alias("level"),
        (F.col("event_id") % 1000).cast("string").alias("durationMs"),
        F.when(F.col("event_id") % 2 == 0, F.lit("")).otherwise(
            F.concat(F.lit("corr-"), (F.col("event_id") % 97).cast("string"))
        ).alias("correlationId"),
        F.concat(F.lit("10.1."), (F.col("user_id") % 200).cast("string"), F.lit(".9")).alias("callerIpAddress"),
        F.lit("westeurope").alias("location"),
        F.map_from_arrays(
            F.array(F.lit("status"), F.lit("path")),
            F.array((200 + (F.col("event_id") % 3) * 100).cast("string"), F.concat(F.lit("/"), F.col("event_type"))),
        ).alias("properties"),
    )
    rendered = ev.select(
        "event_id", F.to_json(F.struct(F.array(rec).alias("records"))).alias("body")
    )
    out = parse_azure_resource_logs(rendered, "body")
    return out.select(
        "event_id", "az_ts_us", "az_resource_id", "az_category", "az_operation",
        "az_severity_num", "az_severity_text", "az_duration_ms",
        "az_correlation_id", "az_result_type", "az_caller_ip",
        "az_cloud_region", "az_props_csv",
    )


def q_skywalking_pb(spark, sf_dir):
    """SkyWalking v3 SegmentObject protobuf: Entry root (parent -1 via
    two's-complement varint) + Exit child per segment, span type/layer
    enums, sorted tag CSV."""
    from ..operators.otlp_pb import parse_skywalking, synthesize_skywalking

    ev = _events(spark, sf_dir).select("event_id", "event_type", "user_id")
    out = parse_skywalking(synthesize_skywalking(ev), "payload")
    return out.select(
        "event_id", "sw_trace_id", "sw_segment_id", "sw_service", "sw_instance",
        "sw_span_id", "sw_parent_span_id", "sw_op", "sw_peer", "sw_type",
        "sw_layer", "sw_component_id", "sw_is_error", "sw_start_ms",
        "sw_end_ms", "sw_tags_csv",
    )


def q_datadog_series(spark, sf_dir):
    """Datadog v1 series render -> receiver-translator parse: type
    dispatch with unset-type series dropped, rate interval scaling,
    first-colon tag split, per-point fan-out."""
    from ..operators.parse import parse_datadog_series_v1

    ev = _events(spark, sf_dir)
    typ = (
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
        .when(F.col("event_id") % 3 == 0, F.lit("rate"))
        .when(F.col("event_id") % 3 == 1, F.lit("count"))
        .otherwise(F.lit("gauge"))
    )
    sec = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast("double")
    serie = F.struct(
        F.concat(F.lit("app."), F.col("event_type")).alias("metric"),
        typ.alias("type"),
        F.lit(10).cast("long").alias("interval"),
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias("host"),
        F.array(
            F.concat(F.lit("env:prod")),
            F.concat(F.lit("url:https://x/"), F.col("event_type")),
        ).alias("tags"),
        F.array(
            F.array(sec, F.col("value")),
            F.array(sec + 10.0, F.col("value") + 1.0),
        ).alias("points"),
    )
    rendered = ev.select(
        "event_id", F.to_json(F.struct(F.array(serie).alias("series"))).alias("body")
    )
    out = parse_datadog_series_v1(rendered, "body")
    return out.select(
        "event_id", "dd_metric", "dd_otel_type", "dd_monotonic", "dd_host",
        "dd_tags_csv", "dd_ts_s", "dd_value",
    )


def q_expvar_parse(spark, sf_dir):
    """expvar /debug/vars render -> scraper parse: 23 int gauges in record
    order, num_gc, gc_cpu_fraction, and the PauseNs[(NumGC+255)%256]
    circular-buffer last_pause read."""
    from ..operators.parse import _EXPVAR_INT_FIELDS, parse_expvar

    ev = _events(spark, sf_dir)
    e = F.col("event_id")
    fields = [
        ((e % 1000) * (i + 1) + i).cast("long").alias(go)
        for i, (_n, go) in enumerate(_EXPVAR_INT_FIELDS)
    ]
    ms = F.struct(
        *fields,
        (e % 512).cast("long").alias("NumGC"),
        ((e % 100).cast("double") / 256.0).alias("GCCPUFraction"),
        F.transform(F.sequence(F.lit(0), F.lit(255)), lambda j: (j * 3 + e % 7).cast("long")).alias("PauseNs"),
    )
    rendered = ev.select("event_id", F.to_json(F.struct(ms.alias("memstats"))).alias("body"))
    return parse_expvar(rendered, "body").select("event_id", "ev_metric", "ev_value")


def q_mezmo_render_roundtrip(spark, sf_dir):
    """Mezmo ingest-body render -> parse: ms timestamps, empty-level ->
    info default, hostname/trace.id meta folding."""
    from ..operators.parse import parse_mezmo
    from ..operators.render import render_mezmo

    ev = _events(spark, sf_dir)
    rendered = render_mezmo(
        ev,
        ts_ms=F.unix_millis(F.col("ts").cast("timestamp")),
        line=F.concat(F.lit("handled "), F.col("event_type")),
        app=F.when(F.col("event_id") % 4 != 0, F.concat(F.lit("app"), (F.col("user_id") % 3).cast("string"))),
        level=F.when(F.col("event_id") % 2 == 0, F.lit("warn")).otherwise(F.lit("")),
        hostname=F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")),
        trace_id=F.when(F.col("event_id") % 3 == 0, F.lpad(F.conv(F.col("user_id").cast("string"), 10, 16), 32, "0")),
        meta=[("team", F.concat(F.lit("t"), (F.col("user_id") % 7).cast("string")))],
    )
    out = parse_mezmo(rendered.select("event_id", "body"), "body")
    return out.select(
        "event_id", "mz_ts_ms", "mz_line", "mz_app", "mz_level",
        "mz_hostname", "mz_trace_id", "mz_meta_csv",
    )


def q_honeycomb_markers(spark, sf_dir):
    """honeycombmarkerexporter: OTTL marker conditions compiled through
    the statement compiler gate records; matches fan out one marker JSON
    per (record, marker) with message/url attribute pulls and the
    __all__ dataset default."""
    from ..operators.render import honeycomb_markers

    ev = _events(spark, sf_dir).withColumn(
        "url", F.concat(F.lit("https://run/"), F.col("event_id").cast("string"))
    )
    out = honeycomb_markers(
        ev,
        markers=[
            {
                "type": "error-spike",
                "condition": 'attributes["event_type"] == "purchase" and attributes["value"] > 400.0',
                "message_col": "event_type",
                "url_col": "url",
            },
            {
                "type": "deploy",
                "condition": 'attributes["event_type"] == "signup"',
                "dataset": "prod",
            },
        ],
    )
    return out.select("event_id", "hm_dataset", "hm_type", "hm_body")


_PROM_UNITS = ["By", "ms", "1", "%", "{requests}", "By/s", "GiBy/h", "connections", "°F", ""]


def q_prom_names(spark, sf_dir):
    """pkg/translator/prometheus BuildCompliantName + NormalizeLabel over
    a synthesized metric-description table: name from the event type,
    unit cycling through the UCUM/annotated/per-unit matrix, type and
    monotonicity from the id — the exporter-side naming path."""
    from ..operators.prom_translate import prom_normalize_label, prometheus_names

    units = F.array(*[F.lit(u) for u in _PROM_UNITS])
    src = _events(spark, sf_dir).select(
        "event_id",
        F.concat(F.col("event_type"), F.lit(".io.rate")).alias("metric_name"),
        F.element_at(units, (F.col("event_id") % 10 + 1).cast("int")).alias("unit"),
        F.when(F.col("event_id") % 3 == 0, F.lit("sum")).otherwise(F.lit("gauge")).alias("metric_type"),
        (F.col("event_id") % 2 == 0).alias("is_monotonic"),
    )
    out = prometheus_names(src)
    return out.select(
        "event_id",
        "metric_name",
        "unit",
        "metric_type",
        "prom_name",
        prom_normalize_label(F.concat(F.lit("0."), F.col("metric_type"))).alias("prom_label"),
    )


def q_loki_streams(spark, sf_dir):
    """pkg/translator/loki stream-label derivation over a synthesized
    attribute matrix: default job/instance labels, resource + attribute
    hints (with a two-name trimmed hint list), severity-driven level
    label with an existing-attr override, indirect tenant hint, format
    hint — rest maps rendered as sorted CSVs for the hash gate."""
    from ..operators.loki_translate import loki_stream_labels

    eid, uid = F.col("event_id"), F.col("user_id")

    src = _events(spark, sf_dir).select(
        "event_id",
        _nn_map(
            F.lit("event"), F.col("event_type"),
            F.lit("level"), F.when(eid % 11 == 0, F.lit("custom")),
            F.lit("team"), F.concat(F.lit("t"), (eid % 3).cast("string")),
            F.lit("loki.attribute.labels"), F.when(eid % 2 == 0, F.lit("event")),
            F.lit("loki.format"), F.when(eid % 5 == 0, F.lit("logfmt")),
            F.lit("loki.tenant"), F.when(eid % 13 == 0, F.lit("team")),
        ).alias("log_attrs"),
        _nn_map(
            F.lit("service.name"), F.concat(F.lit("svc-"), (uid % 4).cast("string")),
            F.lit("service.namespace"), F.when(uid % 2 == 0, F.lit("prod")),
            F.lit("service.instance.id"), F.when(uid % 3 == 0, F.concat(F.lit("i-"), uid.cast("string"))),
            F.lit("region"), F.concat(F.lit("r"), (uid % 4).cast("string")),
            F.lit("zone"), F.when(eid % 2 == 1, F.lit("z1")),
            F.lit("loki.resource.labels"), F.when(eid % 3 == 0, F.lit("region, zone")),
            F.lit("loki.tenant"), F.when(eid % 7 == 0, F.lit("team")),
        ).alias("res_attrs"),
        F.when(eid % 4 == 0, F.lit("ERROR")).alias("sev"),
    )
    out = loki_stream_labels(src, severity_col="sev")

    def csv(col):
        return F.concat_ws(
            ",",
            F.array_sort(
                F.transform(F.map_entries(col), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
            ),
        )

    return out.select(
        "event_id",
        "loki_labels",
        "loki_tenant",
        "loki_format",
        csv(F.col("log_attrs_rest")).alias("log_rest"),
        csv(F.col("res_attrs_rest")).alias("res_rest"),
    )


_RELABEL_RULES = [
    {"action": "replace", "source_labels": ["__meta_kubernetes_namespace", "__meta_kubernetes_pod_name"],
     "separator": "/", "regex": "(.+)/(.+)", "target_label": "job", "replacement": "$1/${2}"},
    {"action": "hashmod", "source_labels": ["__address__"], "modulus": 8, "target_label": "__tmp_shard"},
    {"action": "keep", "source_labels": ["__tmp_shard"], "regex": "[0-5]"},
    {"action": "lowercase", "source_labels": ["__meta_kubernetes_pod_label_App"], "target_label": "app"},
    {"action": "replace", "source_labels": ["app"], "regex": "web(\\d+)", "target_label": "tier",
     "replacement": "t$1"},
    {"action": "labelmap", "regex": "__meta_kubernetes_(.+)", "replacement": "k8s_$1"},
    {"action": "dropequal", "source_labels": ["instance"], "target_label": "__address__"},
    {"action": "labeldrop", "regex": "__(meta|tmp).*"},
    {"action": "uppercase", "source_labels": ["__scheme__"], "target_label": "scheme_uc"},
]


def q_prom_relabel(spark, sf_dir):
    """Prometheus relabel_configs chain (receiver/prometheusreceiver
    README.md:91-105 — 'relabeling behaves like Prometheus') over a
    synthesized service-discovery label set: replace with group refs +
    separator join, md5-based hashmod sharding, keep gate on the shard,
    lowercase with a sometimes-absent source, a chained replace off the
    cased value, __meta_* labelmap promotion, dropequal on instance vs
    address, labeldrop of the scratch/meta names, uppercase — all nine
    actions in one codegen projection chain, no shuffle."""
    from ..operators.prom_relabel import labels_csv, relabel

    e, u = F.col("event_id"), F.col("user_id")
    addr = F.concat(
        F.lit("10.0."), (e % 200).cast("string"), F.lit("."), u.cast("string"), F.lit(":9100")
    )

    src = _events(spark, sf_dir).select(
        "event_id",
        _nn_map(
            F.lit("__address__"), addr,
            F.lit("__scheme__"), F.when(e % 2 == 0, F.lit("http")).otherwise(F.lit("https")),
            F.lit("__meta_kubernetes_namespace"), F.concat(F.lit("ns-"), (e % 5).cast("string")),
            F.lit("__meta_kubernetes_pod_name"), F.concat(F.lit("pod-"), (e % 7).cast("string")),
            F.lit("__meta_kubernetes_pod_label_App"),
            F.when(e % 3 != 0, F.concat(F.lit("Web"), (e % 4).cast("string"))),
            F.lit("instance"), F.when(e % 11 == 0, addr),
            F.lit("job"), F.lit("scrape"),
        ).alias("labels"),
    )
    out = relabel(src, _RELABEL_RULES)
    return out.select("event_id", labels_csv(F.col("labels")).alias("labels"))


def q_prom_relabel_columnar(spark, sf_dir):
    """The columnar fast path (static chains lower onto plain codegen
    columns, no dynamic rule touches the rest map — see prom_relabel.relabel)
    over the same service-discovery fixture, running the static subset of
    the main chain (everything except the data-dependent labelmap/labeldrop).
    Value-gated against an analytical oracle deriving each surviving
    row's sorted label CSV directly."""
    from ..operators.prom_relabel import labels_csv, relabel

    e, u = F.col("event_id"), F.col("user_id")
    addr = F.concat(
        F.lit("10.0."), (e % 200).cast("string"), F.lit("."), u.cast("string"), F.lit(":9100")
    )
    src = _events(spark, sf_dir).select(
        "event_id",
        _nn_map(
            F.lit("__address__"), addr,
            F.lit("__scheme__"), F.when(e % 2 == 0, F.lit("http")).otherwise(F.lit("https")),
            F.lit("__meta_kubernetes_namespace"), F.concat(F.lit("ns-"), (e % 5).cast("string")),
            F.lit("__meta_kubernetes_pod_name"), F.concat(F.lit("pod-"), (e % 7).cast("string")),
            F.lit("__meta_kubernetes_pod_label_App"),
            F.when(e % 3 != 0, F.concat(F.lit("Web"), (e % 4).cast("string"))),
            F.lit("instance"), F.when(e % 11 == 0, addr),
            F.lit("job"), F.lit("scrape"),
        ).alias("labels"),
    )
    static_rules = [
        r for r in _RELABEL_RULES if r["action"] not in ("labelmap", "labeldrop")
    ]
    out = relabel(src, static_rules)
    return out.select("event_id", labels_csv(F.col("labels")).alias("labels"))


def q_github_job_spans(spark, sf_dir):
    """githubreceiver workflow_job webhooks → job/queue/step span rows
    (trace_event_handling.go:50-88 topology, newSpanIDFromCheckRun ids,
    newUniqueSteps duplicate suffixing, correctActionTimestamps) over a
    synthesized CI event stream: attempts cycle 1-3, conclusions walk the
    full switch incl. NULL, one job in 13 has completed < created
    (correction path), 3-step jobs carry a duplicate step name."""
    from ..operators.github_ci import workflow_job_spans

    e = F.col("event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    concl = (
        F.when(e % 6 == 0, F.lit("success"))
        .when(e % 6 == 1, F.lit("failure"))
        .when(e % 6 == 2, F.lit("cancelled"))
        .when(e % 6 == 3, F.lit("skipped"))
        .when(e % 6 == 4, F.lit("timed_out"))
    )

    def step(i: int):
        name = {1: "checkout", 2: "test", 3: "test"}[i]
        si = (e + i) % 6
        s_concl = (
            F.when(si == 0, F.lit("success"))
            .when(si == 1, F.lit("failure"))
            .when(si == 2, F.lit("cancelled"))
            .when(si == 3, F.lit("skipped"))
            .when(si == 4, F.lit("in_progress"))
        )
        return F.struct(
            F.lit(name).alias("name"),
            F.lit(i).alias("number"),
            F.lit("completed").alias("status"),
            s_concl.alias("conclusion"),
            F.timestamp_micros(us + i * 1_000_000).alias("started_at"),
            F.timestamp_micros(us + (i + ((e + i) % 3).cast("int") - 1) * 1_000_000).alias(
                "completed_at"
            ),
        )

    cnt = (e % 4).cast("int")
    steps = (
        F.when(cnt == 0, F.array().cast(
            "array<struct<name string, number int, status string, conclusion string, "
            "started_at timestamp, completed_at timestamp>>"))
        .when(cnt == 1, F.array(step(1)))
        .when(cnt == 2, F.array(step(1), step(2)))
        .otherwise(F.array(step(1), step(2), step(3)))
    )
    src = _events(spark, sf_dir).select(
        e.alias("run_id"),
        (1 + e % 3).cast("int").alias("run_attempt"),
        (e * 31 + 7).alias("check_run_id"),
        F.concat(F.lit("build-"), (e % 4).cast("string")).alias("job_name"),
        F.timestamp_micros(us).alias("created_at"),
        F.timestamp_micros(us + (e % 7) * 1_000_000).alias("started_at"),
        F.timestamp_micros(
            F.when(e % 13 == 0, us - 5_000_000).otherwise(us + 60_000_000)
        ).alias("completed_at"),
        concl.alias("conclusion"),
        steps.alias("steps"),
    )
    out = workflow_job_spans(src)
    return out.select(
        "trace_id", "span_id", "parent_span_id", "name", "span_type", "kind",
        F.unix_micros(F.col("start_ts").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("end_ts").cast("timestamp")).alias("end_us"),
        "status_code", "status_message", "queue_duration_ns", "task_status",
    )


def q_github_run_roots(spark, sf_dir):
    """githubreceiver workflow_run webhooks → root spans with previous-
    attempt trace links, run-status mapping (model.go:132-146) and the
    getServiceName formatting chain (model.go:270-289)."""
    from ..operators.github_ci import workflow_run_spans

    e = F.col("event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    concl = (
        F.when(e % 6 == 0, F.lit("success"))
        .when(e % 6 == 1, F.lit("failure"))
        .when(e % 6 == 2, F.lit("cancelled"))
        .when(e % 6 == 3, F.lit("skipped"))
        .when(e % 6 == 4, F.lit("timed_out"))
    )
    src = _events(spark, sf_dir).select(
        e.alias("run_id"),
        (1 + e % 3).cast("int").alias("run_attempt"),
        F.concat(F.lit("deploy-"), (e % 3).cast("string")).alias("workflow_name"),
        F.timestamp_micros(us).alias("run_started_at"),
        F.timestamp_micros(
            F.when(e % 13 == 0, us - 5_000_000).otherwise(us + 90_000_000)
        ).alias("updated_at"),
        concl.alias("conclusion"),
        F.when(e % 4 == 0, F.lit("https://api.github.example/prev")).alias(
            "previous_attempt_url"
        ),
        F.when(e % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("My_Repo_"), (e % 5).cast("string"))
        ).alias("repo_name"),
    )
    out = workflow_run_spans(src)
    return out.select(
        "trace_id", "span_id", "name", "kind",
        F.unix_micros(F.col("start_ts").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("end_ts").cast("timestamp")).alias("end_us"),
        "status_code", "status_message", "link_trace_id", "service_name", "run_status",
    )


def q_es_route_index(spark, sf_dir):
    """elasticsearchexporter data-stream routing (data_stream_router.go:
    182-262) over a synthesized attribute matrix: manual
    elasticsearch.index overrides, record>scope>resource dataset and
    namespace precedence, self-telemetry / encoding.format / receiver-
    regex scope routing, disallowed-rune sanitization and the OTel-mode
    '.otel' dataset suffix — one projection, routing feeds partitionBy."""
    from ..operators.es_routing import route_documents

    e = F.col("event_id")

    contrib = "github.com/open-telemetry/opentelemetry-collector-contrib"
    src = _events(spark, sf_dir).select(
        "event_id",
        F.when(e % 3 == 0, F.lit("logs"))
        .when(e % 3 == 1, F.lit("metrics"))
        .otherwise(F.lit("traces"))
        .alias("signal"),
        _nn_map(
            F.lit("elasticsearch.index"),
            F.when(e % 17 == 0, F.concat(F.lit("manual-idx-"), (e % 4).cast("string"))),
            F.lit("data_stream.dataset"),
            F.when(e % 3 == 0, F.concat(F.lit("Web App/"), (e % 4).cast("string"))),
            F.lit("data_stream.namespace"),
            F.when(e % 5 == 0, F.concat(F.lit("NS,"), (e % 3).cast("string"))),
        ).alias("attrs"),
        _nn_map(
            F.lit("encoding.format"), F.when(e % 7 == 0, F.lit("aws.vpcflow")),
            F.lit("data_stream.namespace"), F.when(e % 11 == 0, F.lit("ScopeNS")),
        ).alias("scope_attrs"),
        _nn_map(
            F.lit("data_stream.dataset"), F.when(e % 13 == 0, F.lit("res-ds")),
        ).alias("res_attrs"),
        F.when(e % 6 == 0, F.lit("go.opentelemetry.io/collector/receiver/receiverhelper"))
        .when(e % 6 == 1, F.lit(f"{contrib}/receiver/filelogreceiver/internal/adapter"))
        .when(e % 6 == 2, F.lit(f"{contrib}/connector/countconnector"))
        .otherwise(F.lit("custom.scope.lib"))
        .alias("scope_name"),
    )
    return route_documents(src, mode="otel").select("event_id", "es_index")


def q_gitlab_pipeline_spans(spark, sf_dir):
    """gitlabreceiver pipeline webhooks → pipeline/stage/job span trees
    (traces_event_handling.go:44-380): stages derived in-array from the
    builds list (first-build status, min/max job window), string-hashed
    sha256 ids, commit-title name fallback, queued-never-ran stages
    skipped, unfinished jobs dropped."""
    from ..operators.gitlab_ci import pipeline_spans

    e = F.col("event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def fmt(off_sec):
        return F.concat(
            F.date_format(F.timestamp_micros(us + off_sec * 1_000_000), "yyyy-MM-dd HH:mm:ss"),
            F.lit(" UTC"),
        )

    def cyc(shift):
        i = (e + shift) % 5
        return (
            F.when(i == 0, F.lit("success"))
            .when(i == 1, F.lit("failed"))
            .when(i == 2, F.lit("canceled"))
            .when(i == 3, F.lit("skipped"))
            .otherwise(F.lit("running"))
        )

    def job(i: int):
        unran = (e + i) % 7 == 0
        return F.struct(
            (e * 10 + i).alias("id"),
            F.lit("build" if i == 1 else "test").alias("stage"),
            F.lit(f"job-{i}").alias("name"),
            cyc(i).alias("status"),
            F.when(unran, F.lit("")).otherwise(fmt(i * 10)).alias("started_at"),
            F.when(unran, F.lit("")).otherwise(fmt(i * 10 + 60)).alias("finished_at"),
        )

    cnt = (e % 3).cast("int")
    builds = (
        F.when(cnt == 0, F.array(job(1)))
        .when(cnt == 1, F.array(job(1), job(2)))
        .otherwise(F.array(job(1), job(2), job(3)))
    )
    src = _events(spark, sf_dir).select(
        e.alias("pipeline_id"),
        F.when(e % 3 != 0, F.concat(F.lit("Pipeline-"), (e % 5).cast("string")))
        .otherwise(F.lit(""))
        .alias("pipeline_name"),
        F.concat(F.lit("commit-"), (e % 7).cast("string")).alias("commit_title"),
        cyc(0).alias("status"),
        fmt(0).alias("created_at"),
        fmt(300).alias("finished_at"),
        builds.alias("builds"),
    )
    return pipeline_spans(src)


def q_prom_relabel_keepequal(spark, sf_dir):
    """The two relabel actions the main chain doesn't filter with:
    keepequal (joined source == target value) and labelkeep (name
    allowlist), preceded by a replace that plants the equality for a
    deterministic subset."""
    from ..operators.prom_relabel import labels_csv, relabel

    e = F.col("event_id")

    src = _events(spark, sf_dir).select(
        "event_id",
        _nn_map(
            F.lit("job"), F.concat(F.lit("job-"), (e % 4).cast("string")),
            F.lit("alias"), F.when(e % 3 == 0, F.concat(F.lit("job-"), (e % 4).cast("string")))
            .otherwise(F.lit("other")),
            F.lit("__scratch"), F.lit("x"),
            F.lit("env"), F.when(e % 2 == 0, F.lit("prod")).otherwise(F.lit("dev")),
        ).alias("labels"),
    )
    rules = [
        {"action": "keepequal", "source_labels": ["job"], "target_label": "alias"},
        {"action": "labelkeep", "regex": "job|env"},
    ]
    return relabel(src, rules).select("event_id", labels_csv(F.col("labels")).alias("labels"))


def q_prom_scrape_merge(spark, sf_dir):
    """Prometheus honor_labels scrape-merge (the conflict rule every
    scrape applies before relabeling): target labels vs scraped labels
    in BOTH modes — default (target wins, conflicts become exported_*)
    and honor_labels=true (scraped wins) — over a synthesized conflict
    matrix including a pre-existing scraped exported_job."""
    from ..operators.prom_relabel import labels_csv, merge_scrape_labels

    e, u = F.col("event_id"), F.col("user_id")
    src = _events(spark, sf_dir).select(
        "event_id",
        _nn_map(
            F.lit("job"), F.lit("node"),
            F.lit("instance"), F.concat(F.lit("i-"), u.cast("string")),
            F.lit("dc"), F.when(e % 2 == 0, F.lit("east")),
        ).alias("target"),
        _nn_map(
            F.lit("job"), F.concat(F.lit("app-"), (e % 3).cast("string")),
            F.lit("metric"), F.concat(F.lit("m"), (e % 4).cast("string")),
            F.lit("instance"), F.when(e % 5 == 0, F.lit("scr-i")),
            F.lit("exported_job"), F.when(e % 7 == 0, F.lit("pre")),
        ).alias("scraped"),
    )
    return src.select(
        "event_id",
        labels_csv(
            merge_scrape_labels(F.col("target"), F.col("scraped"), honor_labels=False)
        ).alias("merged_default"),
        labels_csv(
            merge_scrape_labels(F.col("target"), F.col("scraped"), honor_labels=True)
        ).alias("merged_honor"),
    )


def q_events_histogram_exemplars(spark, sf_dir):
    """spanmetrics exemplar attachment: per event_type datapoint, the
    first 5 (trace_id, span_id, value) samples by stable (ts, event_id)
    order — the batch-deterministic analogue of max_per_data_point
    arrival-order sampling (spanmetricsconnector README :147-149)."""
    from ..operators.aggregate import histogram_exemplars

    e = F.col("event_id")
    src = _events(spark, sf_dir).select(
        "event_type", "value", F.col("ts").cast("timestamp").alias("ts"), "event_id",
        F.substring(F.md5(F.concat(F.lit("t"), e.cast("string"))), 1, 32).alias("trace_id"),
        F.substring(F.md5(F.concat(F.lit("s"), e.cast("string"))), 17, 16).alias("span_id"),
    )
    ex = histogram_exemplars(
        src, ["event_type"], "value", "trace_id", "span_id", ["ts", "event_id"], 5
    )
    counts = src.groupBy("event_type").agg(F.count("value").alias("h_count"))
    cents = lambda v: F.floor(v * 100 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return counts.join(ex, "event_type").select(
        "event_type",
        "h_count",
        F.concat_ws(
            "|",
            F.transform(
                F.col("exemplars"),
                lambda x: F.concat_ws(
                    ":", x["trace_id"], x["span_id"], cents(x["value"]).cast("string")
                ),
            ),
        ).alias("exemplars_csv"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "prom_relabel_pipeline": q_prom_relabel,
    "github_workflow_spans": q_github_job_spans,
    "github_run_roots": q_github_run_roots,
    "es_route_index": q_es_route_index,
    "gitlab_pipeline_spans": q_gitlab_pipeline_spans,
    "events_histogram_exemplars": q_events_histogram_exemplars,
    "prom_relabel_keepequal": q_prom_relabel_keepequal,
    "prom_scrape_merge": q_prom_scrape_merge,
    "apm_stats_buckets": q_apm_stats,
    "prom_name_normalize": q_prom_names,
    "loki_stream_labels": q_loki_streams,
    "honeycomb_markers": q_honeycomb_markers,
    "mezmo_render_roundtrip": q_mezmo_render_roundtrip,
    "expvar_memstats_parse": q_expvar_parse,
    "datadog_series_v1_parse": q_datadog_series,
    "skywalking_pb_parse": q_skywalking_pb,
    "azure_logs_roundtrip": q_azure_logs_roundtrip,
    "alertmanager_render_roundtrip": q_alertmanager_render_roundtrip,
    "cloudflare_logpush_parse": q_cloudflare_logpush,
    "faro_render_roundtrip": q_faro_render_roundtrip,
    "arrow_ipc_roundtrip": q_arrow_ipc_roundtrip,
    "xray_render_roundtrip": q_xray_render_roundtrip,
    "wavefront_render_roundtrip": q_wavefront_render_roundtrip,
    "libhoney_render_roundtrip": q_libhoney_render_roundtrip,
    "haproxy_stats_roundtrip": q_haproxy_stats,
    "remote_tap_limit": q_remote_tap,
    "influx_render_roundtrip": q_influx_render_roundtrip,
    "zipkin_render_roundtrip": q_zipkin_render_roundtrip,
    "emf_render_roundtrip": q_emf_render_roundtrip,
    "carbon_render_roundtrip": q_carbon_render_roundtrip,
    "loki_render_roundtrip": q_loki_render_roundtrip,
    "otlpjson_render_roundtrip": q_otlpjson_render_roundtrip,
    "statsd_flush_aggregate": q_statsd_flush,
    "cef_parse_roundtrip": q_cef_roundtrip,
    "leef_parse_roundtrip": q_leef_roundtrip,
    "clf_parse_roundtrip": q_clf_roundtrip,
    "span_pruning_flat": q_span_pruning_flat,
    "span_pruning_tree": q_span_pruning_tree,
    "span_pruning_outliers": q_span_pruning_outliers,
    "metrics_editor_chain": q_metric_editor_chain,
    "metrics_extract_hist": q_metric_extract_hist,
    "metrics_summary_editors": q_metric_summary_editors,
    "metrics_exp_to_explicit": q_metric_exp_to_explicit,
    "metrics_agg_attr_value": q_metric_agg_attr_value,
    "prom_remote_write_parse": q_remote_write,
    "signalfx_pb_parse": q_signalfx_pb,
    "netflow_v5_parse": q_netflow_v5,
    "ipfix_parse": q_ipfix,
    "ipfix_cross_packet_templates": q_ipfix_cross_packet,
    "netflow_v9_parse": q_netflow_v9,
    "sflow_parse": q_sflow,
    "windows_event_parse": q_windows_event,
    "webhook_split_events": q_webhook_split,
    "envoy_als_entries": q_envoy_als,
    "osquery_result_logs": q_osquery_logs,
    "macos_unified_logs": q_macos_logs,
    "splunk_hec_roundtrip": q_hec_roundtrip,
    "gcp_log_entry_parse": q_gcp_log_entry,
    "waf_log_parse": q_waf_log,
    "network_firewall_parse": q_network_firewall,
    "cw_metric_stream_parse": q_cw_metric_stream,
    "jaeger_pb_spans": q_jaeger_pb_spans,
    "zipkin_pb_spans": q_zipkin_pb_spans,
    "jaeger_thrift_batches": q_jaeger_thrift_batches,
    "s3_access_log_parse": q_s3_access_log,
    "otlp_pb_pipeline": q_otlp_pb_pipeline,
    "otlp_pb_exp_histograms": q_otlp_pb_exp_histograms,
    "cloudtrail_records": q_cloudtrail,
    "otlp_pb_histograms": q_otlp_pb_histograms,
    "prw_histogram_series": q_prw_histogram_series,
    "prw_summary_series": q_prw_summary_series,
    "jaeger_tags_otlp": q_jaeger_tags_otlp,
    "zipkin_tags_otlp": q_zipkin_tags_otlp,
    "filelog_header_metadata": q_filelog_header,
    "redaction_full_config": q_redact_full,
    "alb_access_log_parse": q_alb_access_log,
    "cloudwatch_sub_events": q_cloudwatch_sub,
    "vpc_flow_parse": q_vpc_flow,
    "avro_log_decode": q_avro_logs,
    "ring_route_backends": q_ring_route,
    "otlp_pb_spans": q_otlp_pb_spans,
    "otlp_pb_metrics": q_otlp_pb_metrics,
    "otlp_pb_logs": q_otlp_pb_logs,
    "fluent_forward_parse": q_fluent_forward,
    "parse_carbon_lines": q_parse_carbon,
    "parse_collectd_json": q_parse_collectd,
    "parse_firehose_records": q_parse_firehose,
    "render_syslog_rfc5424": q_render_rfc5424,
    "render_syslog_rfc3164": q_render_rfc3164,
    "render_prom_roundtrip": q_render_prom_roundtrip,
    "render_es_bulk_docs": q_render_es_bulk,
    "render_splunk_hec_events": q_render_splunk_hec,
    "generate_static_entries": q_generate_source,
    "metrics_as_logs_sum": q_metrics_as_logs,
    "sumologic_attrs": q_sumologic,
    "trace_transactions": q_trace_transactions,
    "trace_critical_path": q_trace_critical_path,
    "journald_parse": q_journald_parse,
    "resource_detect_attrs": q_resource_detect,
    "events_span_pruning": q_span_pruning,
    "slow_sql_logs": q_slow_sql,
    "sql_digest_rollup": q_sql_digest,
    "events_counter_reset": q_counter_reset,
    "grok_apache_combined": q_grok_apache,
    "events_asof_enrich": q_asof_enrich,
    "events_session_stats": q_session_stats,
    "events_rollup_gapfill": q_rollup_gapfill,
    "events_quantiles": q_group_quantiles,
    "events_rolling_stats": q_rolling_stats,
    "events_error_transitions": q_error_transitions,
    "events_range_burst": q_range_burst,
    "grok_parse_fields": q_grok_parse,
    "ottl_lambdas": q_ottl_lambdas,
    "severity_http_parse": q_severity_http,
    "filter_match_gate": q_filter_match,
    "otlpjson_parse": q_otlpjson_parse,
    "otlpjson_traces": q_otlpjson_traces,
    "otlpjson_metrics": q_otlpjson_metrics,
    "uri_parse_fields": q_uri_parse,
    "csv_parse_fields": q_csv_parse,
    "kv_parse_map": q_kv_parse_map,
    "jsonarray_parse_fields": q_jsonarray_parse,
    "csv_parse_dynamic_header": q_csv_parse_dynamic,
    "sanitize_utf8_docs": q_sanitize_utf8,
    "syslog_rfc5424_parse": q_syslog_rfc5424,
    "syslog_rfc3164_parse": q_syslog_rfc3164,
    "syslog_octet_frames": q_syslog_octet_frames,
    "xml_parse_fields": q_xml_parse,
    "time_parse_fields": q_time_parse,
    "traceparent_parse": q_traceparent_parse,
    "adaptive_head_sample": q_adaptive_head_sample,
    "events_metrics_label_merge": q_metrics_label_merge,
    "genai_normalize": q_genai_normalize,
    "drain_templates": q_drain_templates,
    "drain_tree_templates": q_drain_tree_templates,
    "groupbytrace_waited_release": q_trace_waited_release,
    "k8s_attrs_enrich": q_k8s_attrs_enrich,
    "prom_relabel_columnar": q_prom_relabel_columnar,
    "template_window_diff": q_template_window_diff,
    "cardinality_guard": q_cardinality_guard,
    "metrics_generation_ratio": q_metrics_generation,
    "service_graph_edges": q_service_graph,
    "events_anomaly_scores": q_anomaly_scores,
    "events_isolation_forest": q_isolation_forest,
    "events_active_users_hourly": q_active_users_hourly,
    "events_count_by_type": q_count_by_type,
    "events_rollup_report": q_events_rollup_report,
    "events_burn_rate": q_events_burn_rate,
    "label_majority_vote": q_label_majority_vote,
    "label_fleiss_kappa": q_label_fleiss_kappa,
    "events_late_profile": q_events_late_profile,
    "events_table_diff": q_events_table_diff,
    "events_trend": q_events_trend,
    "events_benford": q_events_benford,
    "events_cusum": q_events_cusum,
    "events_welch_ab": q_events_welch_ab,
    "events_hourly_residuals": q_events_hourly_residuals,
    "events_mann_whitney": q_events_mann_whitney,
    "events_top_users_other": q_events_top_users_other,
    "events_flap_profile": q_events_flap_profile,
    "events_autocorr": q_events_autocorr,
    "dp_event_counts": q_dp_event_counts,
    "dp_event_sums": q_dp_event_sums,
    "events_count_incremental": q_count_incremental,
    "events_sum_by_type": q_sum_by_type,
    "events_logdedup": q_logdedup,
    "events_interval_last": q_interval_last,
    "events_cumulative": q_cumulative,
    "events_delta": q_delta,
    "events_rate": q_rate,
    "events_histogram": q_histogram,
    "events_histogram_rebucket": q_histogram_rebucket,
    "events_exp_histogram_merge": q_exp_histogram_merge,
    "events_exp_histogram_cumulative": q_exp_histogram_cumulative,
    "events_histogram_cum_to_delta": q_histogram_cum_to_delta,
    "events_histogram_limit": q_histogram_limit,
    "events_histogram_scaled": q_histogram_scaled,
    "events_host_info": q_host_info,
    "collector_service_counts": q_collector_service,
    "collector_service_forward": q_collector_service_forward,
    "stanza_chain_parse": q_stanza_chain,
    "events_start_true_reset": q_start_true_reset,
    "events_start_subtract_initial": q_start_subtract_initial,
    "parse_statsd_lines": q_parse_statsd,
    "parse_influx_lines": q_parse_influx_line,
    "parse_prometheus_lines": q_parse_prometheus_text,
    "zipkin_json_spans": q_zipkin_spans,
    "loki_json_push": q_loki_push,
    "events_metrics_transform": q_metrics_transform,
    "events_metrics_rename_scale": q_metrics_rename_scale,
    "signal_to_metrics": q_signal_to_metrics,
    "exceptions_by_dim": q_exceptions,
    "events_props_json": q_props_json,
    "recombine_user_segments": q_recombine,
    "group_by_trace_transcripts": q_group_by_trace,
    "tail_sampling_verdicts": q_tail_sampling,
    "tail_sampling_policies": q_tail_sampling_policies,
    "sampler_deterministic_mod": q_sampler_mod,
    "sampler_hash_consistent": q_sampler_hash,
    "enrich_composite_dim": q_enrich_composite,
    "enrich_scd2_dim": q_scd2_dim,
    "enrich_scd2_lookup": q_scd2_lookup,
    "enrich_scd2_incremental": q_scd2_incremental,
    "geoip_enrich": q_geoip_enrich,
    "attr_actions": q_attr_actions,
    "redaction_mask": q_redaction,
    "unroll_tokens": q_unroll_tokens,
    "pipeline_quarantine": q_pipeline_quarantine,
    "events_value_drift": q_events_value_drift,
    "events_value_ks": q_events_value_ks,
    "tool_slo_report": q_tool_slo_report,
    "events_funnel": q_events_funnel,
    "events_cohorts": q_events_cohorts,
    "events_twa": q_events_twa,
    "service_graph_pagerank": q_service_graph_pagerank,
    "events_seasonal_baseline": q_events_seasonal,
    "events_transition_matrix": q_events_transitions_matrix,
    "ottl_showcase": q_ottl_showcase,
    "ottl_editors": q_ottl_editors,
    "ottl_editors_full": q_ottl_editors_full,
}


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _oracles() -> dict[str, str]:
    cte = pipeline_cte()
    win60 = _WIN_SQL.format(i=60)
    win3600 = _WIN_SQL.format(i=3600)
    o: dict[str, str] = {}

    # --- prometheus naming translator ------------------------------------------

    from ..operators.prom_translate import PER_UNIT_MAP, UNIT_MAP

    _mu_case = (
        "CASE mu_raw "
        + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in UNIT_MAP.items())
        + " ELSE mu_raw END"
    )
    _ppu_case = (
        "CASE pu_raw "
        + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in PER_UNIT_MAP.items())
        + " ELSE pu_raw END"
    )
    _units_sql = "[" + ",".join(f"'{u}'" for u in _PROM_UNITS) + "]"
    _na = r"[^\p{L}\p{Nd}]+"
    o["prom_name_normalize"] = f"""
WITH src AS (
  SELECT event_id,
    event_type || '.io.rate' AS metric_name,
    ({_units_sql})[CAST(event_id % 10 + 1 AS INT)] AS unit,
    CASE WHEN event_id % 3 = 0 THEN 'sum' ELSE 'gauge' END AS metric_type,
    event_id % 2 = 0 AS is_monotonic
  FROM events),
u AS (
  SELECT *,
    regexp_replace(CASE WHEN instr(unit, '/') > 0 THEN substr(unit, 1, instr(unit, '/') - 1)
                        ELSE unit END, '^\\s+|\\s+$', '', 'g') AS mu_raw,
    CASE WHEN instr(unit, '/') > 0
         THEN regexp_replace(substr(unit, instr(unit, '/') + 1), '^\\s+|\\s+$', '', 'g')
         ELSE '' END AS pu_raw
  FROM src),
m AS (
  SELECT *,
    CASE WHEN mu_raw = '' OR contains(mu_raw, '{{') OR contains(mu_raw, '}}') THEN ''
         ELSE array_to_string(list_filter(regexp_split_to_array({_mu_case}, '{_na}'), t -> t <> ''), '_')
    END AS pu,
    CASE WHEN pu_raw = '' OR contains(pu_raw, '{{') OR contains(pu_raw, '}}') THEN ''
         ELSE array_to_string(list_filter(regexp_split_to_array({_ppu_case}, '{_na}'), t -> t <> ''), '_')
    END AS ppu,
    list_filter(regexp_split_to_array(metric_name, '{_na}'), t -> t <> '') AS toks
  FROM u),
s1 AS (SELECT *, CASE WHEN pu <> '' AND NOT list_contains(toks, pu)
                      THEN list_append(toks, pu) ELSE toks END AS t1 FROM m),
s2 AS (SELECT *, CASE WHEN ppu <> '' AND NOT list_contains(t1, ppu)
                      THEN list_concat(t1, ['per', ppu]) ELSE t1 END AS t2 FROM s1),
s3 AS (SELECT *, CASE WHEN metric_type = 'sum' AND is_monotonic
                      THEN list_append(list_filter(t2, x -> x <> 'total'), 'total')
                      ELSE t2 END AS t3 FROM s2),
s4 AS (SELECT *, CASE WHEN unit = '1' AND metric_type = 'gauge'
                      THEN list_append(list_filter(t3, x -> x <> 'ratio'), 'ratio')
                      ELSE t3 END AS t4 FROM s3),
nm AS (SELECT *, array_to_string(t4, '_') AS nm0,
              regexp_replace('0.' || metric_type, '[^\\p{{L}}\\p{{Nd}}]', '_', 'g') AS lbl0
       FROM s4)
SELECT event_id, metric_name, unit, metric_type,
  CASE WHEN nm0 <> '' AND regexp_matches(nm0, '^\\p{{Nd}}') THEN '_' || nm0 ELSE nm0 END AS prom_name,
  CASE WHEN regexp_matches(lbl0, '^\\p{{Nd}}') THEN 'key_' || lbl0
       WHEN lbl0 LIKE '\\_%' ESCAPE '\\' AND lbl0 NOT LIKE '\\_\\_%' ESCAPE '\\' THEN 'key' || lbl0
       ELSE lbl0 END AS prom_label
FROM nm"""

    o["loki_stream_labels"] = """
WITH e AS (SELECT event_id AS e, user_id AS u, event_type FROM events),
lbl AS (
  SELECT e, u, event_type,
    list_sort(list_filter([
      'exporter=OTLP',
      'job=' || CASE WHEN u % 2 = 0 THEN 'prod/' ELSE '' END || 'svc-' || CAST(u % 4 AS VARCHAR),
      CASE WHEN u % 3 = 0 THEN 'instance=i-' || CAST(u AS VARCHAR) END,
      CASE WHEN e % 3 = 0 THEN 'region=r' || CAST(u % 4 AS VARCHAR) END,
      CASE WHEN e % 3 = 0 AND e % 2 = 1 THEN 'zone=z1' END,
      CASE WHEN e % 2 = 0 THEN 'event=' || event_type END,
      CASE WHEN e % 4 = 0 THEN 'level=' || CASE WHEN e % 11 = 0 THEN 'custom' ELSE 'ERROR' END END
    ], x -> x IS NOT NULL)) AS lbls
  FROM e)
SELECT e AS event_id,
  array_to_string(lbls, ',') AS loki_labels,
  CASE WHEN e % 7 = 0 OR e % 13 = 0 THEN 't' || CAST(e % 3 AS VARCHAR) ELSE '' END AS loki_tenant,
  CASE WHEN e % 5 = 0 THEN 'logfmt' ELSE 'json' END AS loki_format,
  array_to_string(list_sort(list_filter([
      CASE WHEN e % 2 <> 0 THEN 'event=' || event_type END,
      CASE WHEN e % 11 = 0 AND e % 4 <> 0 THEN 'level=custom' END,
      'team=t' || CAST(e % 3 AS VARCHAR)
    ], x -> x IS NOT NULL)), ',') AS log_rest,
  array_to_string(list_sort(list_filter([
      CASE WHEN e % 3 <> 0 THEN 'region=r' || CAST(u % 4 AS VARCHAR) END,
      CASE WHEN e % 2 = 1 AND e % 3 <> 0 THEN 'zone=z1' END,
      'service.name=svc-' || CAST(u % 4 AS VARCHAR),
      CASE WHEN u % 2 = 0 THEN 'service.namespace=prod' END,
      CASE WHEN u % 3 = 0 THEN 'service.instance.id=i-' || CAST(u AS VARCHAR) END
    ], x -> x IS NOT NULL)), ',') AS res_rest
FROM lbl"""

    # --- datadogconnector APM stats -------------------------------------------

    from ..operators.apm_stats import sketch_bucket_sql, sketch_rep_sql

    _idx = sketch_bucket_sql("dur")
    _rep = sketch_rep_sql("idx")
    o["apm_stats_buckets"] = f"""
WITH sp AS (
  SELECT event_id, user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CASE WHEN event_type IN ('click','view') THEN 'frontend'
              WHEN event_type = 'error' THEN 'backend'
              ELSE 'payments' END AS service,
         event_type AS resource,
         CASE event_id % 5 WHEN 0 THEN 'server' WHEN 2 THEN 'client'
              WHEN 3 THEN 'producer' ELSE 'internal' END AS kind,
         CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status_code,
         (event_type = 'error') AS is_error,
         CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'staging' END AS env,
         (event_id % 9973) * ((event_id % 31) + 1) + 1 AS dur
  FROM events),
rootsvc AS (
  SELECT user_id, service AS root_service FROM sp WHERE rn = 1),
el AS (
  SELECT sp.*,
         (sp.rn = 1 OR sp.service <> r.root_service) AS is_top_level,
         CAST(floor(epoch_us(ts) / (3600 * CAST(1000000 AS BIGINT))) AS BIGINT) * 3600
           AS bucket_start
  FROM sp JOIN rootsvc r USING (user_id)
  WHERE (sp.rn = 1 OR sp.service <> r.root_service)
     OR sp.kind IN ('server','consumer','client','producer')),
cells AS (
  SELECT bucket_start, env, service, resource, kind, status_code, is_error,
         {_idx} AS idx,
         count(*) AS cnt,
         sum(dur) AS dursum,
         sum(CASE WHEN is_top_level THEN 1 ELSE 0 END) AS tlcnt
  FROM el
  GROUP BY ALL),
ranked AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY bucket_start, env, service, resource, kind,
                        status_code, is_error ORDER BY idx) AS cum,
         sum(cnt) OVER (PARTITION BY bucket_start, env, service, resource, kind,
                        status_code, is_error) AS tot
  FROM cells)
SELECT bucket_start, env, service, resource, kind, status_code,
       CAST(sum(cnt) AS BIGINT) AS hits,
       CAST(sum(CASE WHEN is_error THEN cnt ELSE 0 END) AS BIGINT) AS errors,
       CAST(sum(tlcnt) AS BIGINT) AS top_level_hits,
       CAST(sum(dursum) AS BIGINT) AS duration_ns,
       min(CASE WHEN NOT is_error AND cum * 100 >= tot * 50 THEN {_rep} END) AS ok_p50_ns,
       min(CASE WHEN NOT is_error AND cum * 100 >= tot * 95 THEN {_rep} END) AS ok_p95_ns,
       min(CASE WHEN NOT is_error AND cum * 100 >= tot * 99 THEN {_rep} END) AS ok_p99_ns
FROM ranked
GROUP BY bucket_start, env, service, resource, kind, status_code"""

    # --- haproxyreceiver show-stat round trip ----------------------------------

    o["haproxy_stats_roundtrip"] = """
SELECT event_id,
  'px-' || event_type AS hap_pxname,
  CASE WHEN user_id % 3 = 0 THEN 'FRONTEND'
       WHEN user_id % 3 = 1 THEN 'BACKEND'
       ELSE 'srv' || CAST(user_id % 4 AS VARCHAR) END AS hap_svname,
  CASE WHEN user_id % 3 = 0 THEN 'OPEN'
       WHEN event_id % 7 = 0 THEN 'DOWN' ELSE 'UP' END AS hap_status,
  CAST(event_id % 100 AS BIGINT) AS hap_scur,
  CASE WHEN user_id % 3 = 0 THEN CAST(524268 AS BIGINT) END AS hap_slim,
  CAST(event_id % 100000 AS BIGINT) AS hap_stot,
  CAST((event_id * 3) % 1000000 AS BIGINT) AS hap_bin,
  CAST((event_id * 7) % 1000000 AS BIGINT) AS hap_bout,
  CASE WHEN user_id % 3 <> 0 THEN CAST(event_id % 4 AS BIGINT) END AS hap_econ,
  CASE WHEN user_id % 3 <> 0 THEN CAST(100 AS BIGINT) END AS hap_weight,
  CASE WHEN user_id % 3 <> 0 THEN CAST(1 AS BIGINT) END AS hap_act,
  CASE WHEN user_id % 3 <> 0 THEN CAST(0 AS BIGINT) END AS hap_bck,
  CASE WHEN user_id % 3 <> 0 THEN CAST(event_id % 50000 AS BIGINT) END AS hap_lbtot,
  CASE WHEN user_id % 3 = 0 THEN CAST(event_id % 40 AS BIGINT) END AS hap_conn_rate,
  CASE WHEN user_id % 3 = 0 THEN CAST(event_id % 90000 AS BIGINT) END AS hap_conn_tot,
  CASE WHEN user_id % 3 = 0 THEN CAST(event_id % 80000 AS BIGINT) END AS hap_req_tot,
  CAST(event_id % 70000 AS BIGINT) AS hap_hrsp_2xx,
  CAST(event_id % 11 AS BIGINT) AS hap_hrsp_5xx,
  CASE WHEN user_id % 3 <> 0 THEN CAST(event_id % 750 AS BIGINT) END AS hap_rtime,
  CASE WHEN user_id % 3 <> 0 THEN CAST(event_id % 2000 AS BIGINT) END AS hap_ttime
FROM events"""

    # --- remotetapprocessor per-second budget ----------------------------------

    o["remote_tap_limit"] = """
WITH b AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch_us(ts) / (3600 * CAST(1000000 AS BIGINT))) AS BIGINT) AS hr
  FROM events),
r AS (
  SELECT *, row_number() OVER (PARTITION BY hr ORDER BY event_id) AS rn FROM b)
SELECT event_id, user_id, event_type, hr * 1000000 AS tap_sec_us
FROM r WHERE rn <= 5"""

    o["honeycomb_markers"] = """
SELECT event_id, '__all__' AS hm_dataset, 'error-spike' AS hm_type,
       '{"message":"purchase","type":"error-spike","url":"https://run/'
         || CAST(event_id AS VARCHAR) || '"}' AS hm_body
FROM events WHERE event_type = 'purchase' AND value > 400.0
UNION ALL
SELECT event_id, 'prod', 'deploy', '{"type":"deploy"}'
FROM events WHERE event_type = 'signup'"""

    o["mezmo_render_roundtrip"] = """
SELECT event_id,
       epoch_ms(ts) AS mz_ts_ms,
       'handled ' || event_type AS mz_line,
       CASE WHEN event_id % 4 <> 0 THEN 'app' || CAST(user_id % 3 AS VARCHAR) END AS mz_app,
       CASE WHEN event_id % 2 = 0 THEN 'warn' ELSE 'info' END AS mz_level,
       'h' || CAST(user_id % 5 AS VARCHAR) AS mz_hostname,
       CASE WHEN event_id % 3 = 0 THEN printf('%032X', user_id) END AS mz_trace_id,
       'team=t' || CAST(user_id % 7 AS VARCHAR) AS mz_meta_csv
FROM events"""

    from ..operators.parse import _EXPVAR_INT_FIELDS

    _ev_names = ", ".join(f"'{n}'" for n, _go in _EXPVAR_INT_FIELDS)
    o["expvar_memstats_parse"] = f"""
WITH n AS (SELECT unnest(generate_series(0, 22)) AS i),
x AS (SELECT e.event_id, n.i FROM events e CROSS JOIN n)
SELECT event_id,
       'process.runtime.memstats.' || ([{_ev_names}])[i + 1] AS ev_metric,
       CAST((event_id % 1000) * (i + 1) + i AS DOUBLE) AS ev_value
FROM x
UNION ALL
SELECT event_id, 'process.runtime.memstats.num_gc', CAST(event_id % 512 AS DOUBLE)
FROM events
UNION ALL
SELECT event_id, 'process.runtime.memstats.gc_cpu_fraction',
       CAST(event_id % 100 AS DOUBLE) / 256.0
FROM events
UNION ALL
SELECT event_id, 'process.runtime.memstats.last_pause',
       CAST(((event_id % 512 + 255) % 256) * 3 + event_id % 7 AS DOUBLE)
FROM events"""

    o["datadog_series_v1_parse"] = """
WITH x AS (SELECT e.*, s.i,
                  CAST(epoch_us(ts) // 1000000 AS DOUBLE) AS sec,
                  CASE WHEN event_id % 3 = 0 THEN 'rate'
                       WHEN event_id % 3 = 1 THEN 'count' ELSE 'gauge' END AS typ
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s
           WHERE event_id % 11 <> 0)
SELECT event_id,
  'app.' || event_type AS dd_metric,
  CASE WHEN typ = 'gauge' THEN 'gauge' ELSE 'sum_delta' END AS dd_otel_type,
  FALSE AS dd_monotonic,
  'h' || CAST(user_id % 5 AS VARCHAR) AS dd_host,
  'env=prod,url=https://x/' || event_type AS dd_tags_csv,
  CAST(sec + i * 10.0 AS BIGINT) AS dd_ts_s,
  CASE WHEN typ = 'rate' THEN (value + i) * 10 ELSE value + i END AS dd_value
FROM x"""

    o["skywalking_pb_parse"] = """
WITH x AS (SELECT e.*, s.i, (1700000000 + event_id % 86400) * 1000 AS ms
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
SELECT event_id,
  printf('%032x', user_id) AS sw_trace_id,
  printf('%032x', event_id) AS sw_segment_id,
  'svc-' || CAST(user_id % 4 AS VARCHAR) AS sw_service,
  'inst-' || CAST(user_id % 7 AS VARCHAR) AS sw_instance,
  CAST(i AS INT) AS sw_span_id,
  CAST(CASE WHEN i = 0 THEN -1 ELSE 0 END AS INT) AS sw_parent_span_id,
  CASE WHEN i = 0 THEN '/' || event_type ELSE 'SELECT users' END AS sw_op,
  CASE WHEN i = 1 THEN 'db' || CAST(user_id % 3 AS VARCHAR) || ':3306' END AS sw_peer,
  CASE WHEN i = 0 THEN 'Entry' ELSE 'Exit' END AS sw_type,
  CASE WHEN i = 0 THEN 'Http' ELSE 'Database' END AS sw_layer,
  CAST(CASE WHEN i = 0 THEN 49 ELSE 5 END AS INT) AS sw_component_id,
  i = 0 AND event_id % 10 = 0 AS sw_is_error,
  ms + CASE WHEN i = 0 THEN 0 ELSE 10 END AS sw_start_ms,
  ms + CASE WHEN i = 0 THEN 120 ELSE 90 END AS sw_end_ms,
  CASE WHEN i = 0 THEN 'http.method=' || CASE WHEN event_id % 2 = 0 THEN 'GET' ELSE 'POST' END END
    AS sw_tags_csv
FROM x"""

    o["azure_logs_roundtrip"] = """
SELECT event_id,
       (epoch_us(ts) // 1000) * 1000 AS az_ts_us,
       '/SUBSCRIPTIONS/S1/RESOURCEGROUPS/rg' || CAST(user_id % 5 AS VARCHAR) AS az_resource_id,
       'AuditLogs' AS az_category,
       'Microsoft.Web/' || event_type AS az_operation,
       CASE WHEN event_id % 4 = 0 THEN 9 WHEN event_id % 4 = 1 THEN 13
            WHEN event_id % 4 = 2 THEN 17 ELSE 4 END AS az_severity_num,
       CASE WHEN event_id % 4 = 0 THEN 'Informational' WHEN event_id % 4 = 1 THEN 'Warning'
            WHEN event_id % 4 = 2 THEN 'Error' ELSE '4' END AS az_severity_text,
       event_id % 1000 AS az_duration_ms,
       CASE WHEN event_id % 2 <> 0 THEN 'corr-' || CAST(event_id % 97 AS VARCHAR) END
         AS az_correlation_id,
       CAST(NULL AS VARCHAR) AS az_result_type,
       '10.1.' || CAST(user_id % 200 AS VARCHAR) || '.9' AS az_caller_ip,
       'westeurope' AS az_cloud_region,
       'path=/' || event_type || ',status=' || CAST(200 + (event_id % 3) * 100 AS VARCHAR)
         AS az_props_csv
FROM events"""

    o["alertmanager_render_roundtrip"] = """
SELECT event_id,
       CASE WHEN event_id % 5 = 0 THEN 'critical' ELSE 'warning' END AS am_severity,
       event_type AS am_event_name,
       'service_tier=t' || CAST(user_id % 3 AS VARCHAR) AS am_labels_csv,
       'event ' || CAST(event_id AS VARCHAR) AS am_body,
       CASE WHEN event_id % 2 = 0 THEN printf('%032X', user_id) END AS am_trace_id,
       '_0rate=' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS am_annotations_csv,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS am_starts_at,
       'otel-collector' AS am_generator_url
FROM events"""

    o["cloudflare_logpush_parse"] = """
WITH e AS (SELECT *,
                  CASE WHEN event_id % 13 = 0 THEN 503
                       WHEN event_id % 13 = 1 THEN 302
                       WHEN event_id % 13 = 2 THEN 404
                       ELSE 200 END AS st
           FROM events)
SELECT event_id,
       'zone' || CAST(user_id % 4 AS VARCHAR) || '.example.com' AS cf_zone,
       (epoch_us(ts) // 1000000) * 1000000 AS cf_ts_us,
       CASE WHEN st = 503 THEN 17 WHEN st = 302 THEN 10
            WHEN st = 404 THEN 13 ELSE 9 END AS cf_severity_num,
       CASE WHEN st = 503 THEN 'Error' WHEN st = 302 THEN 'Info2'
            WHEN st = 404 THEN 'Warn' ELSE 'Info' END AS cf_severity_text,
       CAST(st AS BIGINT) AS cf_status,
       'http.client_ip=10.0.' || CAST(user_id % 256 AS VARCHAR) || '.1'
         || ',http.request.method=' || CASE WHEN event_id % 2 = 0 THEN 'GET' ELSE 'POST' END
         || ',http.url=/api/' || event_type AS cf_attrs_csv
FROM e"""

    o["faro_render_roundtrip"] = """
WITH e AS (SELECT *,
                  strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS tss,
                  's' || CAST(user_id % 100 AS VARCHAR) AS sid
           FROM events)
SELECT event_id, 'log' AS fr_kind, tss AS fr_timestamp,
       CASE WHEN event_id % 3 = 0 THEN 'warn' ELSE 'info' END AS fr_level,
       'evt ' || event_type AS fr_message,
       CAST(NULL AS VARCHAR) AS fr_type, CAST(NULL AS VARCHAR) AS fr_event_name,
       'context_page=p' || CAST(user_id % 9 AS VARCHAR) AS fr_kv_csv,
       'webapp' AS fr_app_name, sid AS fr_session_id
FROM e
UNION ALL
SELECT event_id, 'exception', tss, 'error',
       'TypeError: v' || CAST(event_id % 10 AS VARCHAR), 'TypeError',
       NULL, NULL, 'webapp', sid
FROM e WHERE event_id % 7 = 0
UNION ALL
SELECT event_id, 'measurement', tss, 'info', NULL, 'page_load', NULL,
       'value_dom=' || printf('%f', CAST(event_id % 500 AS DOUBLE))
         || ',value_ttfb=' || printf('%f', value),
       'webapp', sid
FROM e
UNION ALL
SELECT event_id, 'event', tss, 'info', NULL, NULL, 'click',
       'event_data_target=btn' || CAST(event_id % 5 AS VARCHAR),
       'webapp', sid
FROM e"""

    o["arrow_ipc_roundtrip"] = """
WITH b AS (SELECT user_id % 64 AS bucket, count(*) AS n FROM events GROUP BY 1)
SELECT e.event_id, e.user_id, e.event_type, e.value,
       epoch_us(e.ts) AS ts_us,
       e.user_id % 64 AS bucket,
       b.n AS aip_rows
FROM events e JOIN b ON e.user_id % 64 = b.bucket"""

    o["xray_render_roundtrip"] = """
WITH e AS (
  SELECT *,
         epoch_us(ts) // 1000000 AS sec,
         CAST(epoch_us(ts) // 1000000 AS DOUBLE) + (event_id % 4) * 0.25 AS start_s
  FROM events
), b AS (SELECT *, start_s + 1.0 + (event_id % 2) * 0.5 AS end_s FROM e)
SELECT event_id,
       printf('%08X', sec) || printf('%024X', user_id) AS xr_trace_id,
       printf('%016X', event_id) AS xr_id,
       CAST(NULL AS VARCHAR) AS xr_parent_id,
       event_type AS xr_name,
       CAST(floor(start_s * 1000000) AS BIGINT) AS xr_start_us,
       CAST(floor(end_s * 1000000) AS BIGINT) AS xr_end_us,
       event_id % 10 = 0 AS xr_error,
       event_id % 20 = 0 AS xr_fault,
       FALSE AS xr_throttle,
       CASE WHEN event_id % 10 = 0 THEN 404 ELSE 200 END AS xr_http_status,
       CAST(NULL AS VARCHAR) AS xr_namespace,
       CASE WHEN user_id % 2 = 0 THEN 'AWS::EC2::Instance' END AS xr_origin,
       'client=c' || CAST(user_id % 6 AS VARCHAR)
         || CASE WHEN user_id % 2 = 0 THEN ',tier=gold' ELSE '' END AS xr_annotations_csv,
       FALSE AS xr_is_subsegment
FROM b
UNION ALL
SELECT event_id,
       printf('%08X', sec) || printf('%024X', user_id),
       printf('%016X', event_id + 1),
       printf('%016X', event_id),
       'sql',
       CAST(floor((start_s + 0.25) * 1000000) AS BIGINT),
       CAST(floor((end_s - 0.25) * 1000000) AS BIGINT),
       FALSE, FALSE, FALSE,
       CAST(NULL AS BIGINT),
       'remote',
       CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR),
       TRUE
FROM b WHERE event_id % 3 = 0"""

    o["libhoney_render_roundtrip"] = """
SELECT event_id,
       CASE WHEN event_id % 3 = 1 THEN (epoch_us(ts) // 1000000) * 1000000
            ELSE epoch_us(ts) END AS lh_ts_us,
       CAST(event_id % 7 + 1 AS INT) AS lh_samplerate,
       CASE WHEN event_id % 2 = 0 THEN 'trace' ELSE 'log' END AS lh_signal,
       CASE WHEN user_id % 3 <> 0 THEN 'svc-' || CAST(user_id % 4 AS VARCHAR)
            ELSE 'events-ds' END AS lh_service,
       printf('%032X', user_id) AS lh_trace_id,
       event_type AS lh_name,
       value AS lh_duration_ms,
       'region=r' || CAST(user_id % 4 AS VARCHAR) || ',team=t' || CAST(user_id % 5 AS VARCHAR)
         AS lh_data_csv
FROM events"""

    o["wavefront_render_roundtrip"] = """
SELECT event_id,
       'app.' || event_type AS wf_name,
       CASE WHEN event_id % 4 = 0 THEN CAST(event_id % 100 AS DOUBLE) ELSE value END
         AS wf_value,
       event_id % 4 = 0 AS wf_is_int,
       CASE WHEN event_id % 5 <> 0 THEN epoch_us(ts) // 1000000 END AS wf_ts_s,
       'env=e' || CAST(user_id % 3 AS VARCHAR) || ',source=h' || CAST(user_id % 5 AS VARCHAR)
         AS wf_tags_csv
FROM events"""

    # --- influx line-protocol / zipkin v2 / EMF render round trips -------------

    o["influx_render_roundtrip"] = """
SELECT event_id,
       'app_' || event_type AS il_measurement,
       'dc=dc' || CAST(user_id % 3 AS VARCHAR) || ',host=h' || CAST(user_id % 5 AS VARCHAR)
         AS il_tags_csv,
       'v1=' || CAST(event_id % 1000 AS VARCHAR) || ',v2=' || CAST(user_id % 7 AS VARCHAR)
         AS il_fields_csv,
       epoch_us(ts) AS il_ts_us
FROM events"""

    o["zipkin_render_roundtrip"] = """
SELECT event_id,
       printf('%032X', user_id) AS trace_id,
       printf('%016X', event_id) AS span_id,
       CASE WHEN event_id % 3 = 0 THEN '00000000deadbeef' END AS parent_span_id,
       event_type AS span_name,
       CASE WHEN event_id % 2 = 0 THEN 'SERVER' ELSE 'CLIENT' END AS span_kind,
       epoch_us(ts) AS ts_us,
       event_id % 1000000 + 1 AS duration_us,
       'svc-' || CAST(user_id % 4 AS VARCHAR) AS service_name,
       'peer=p' || CAST(user_id % 7 AS VARCHAR) AS tags_csv
FROM events"""

    o["emf_render_roundtrip"] = """
SELECT event_id,
       'App/Events' AS emf_namespace,
       epoch_ms(ts) AS emf_ts_ms,
       'Env=' || CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'staging' END
         || ',EventType=' || event_type AS emf_dims_csv,
       CASE WHEN s.i = 0 THEN 'Latency' ELSE 'Count' END AS emf_metric,
       CASE WHEN s.i = 0 THEN 'Milliseconds' ELSE 'Count' END AS emf_unit,
       CASE WHEN s.i = 0 THEN value ELSE CAST(event_id % 50 AS DOUBLE) END AS emf_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) s"""

    # --- exporter render round trips (carbon / loki push / otlp json) ---------

    o["carbon_render_roundtrip"] = """
SELECT event_id,
       'sys.' || event_type AS cb_name,
       'dc=dc' || CAST(user_id % 3 AS VARCHAR) || ',host=h' || CAST(user_id % 5 AS VARCHAR)
         AS cb_tags_csv,
       CAST(event_id % 1000 AS DOUBLE) AS cb_value,
       TRUE AS cb_is_int,
       CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) * 1000000 AS cb_ts_us
FROM events"""

    o["loki_render_roundtrip"] = """
SELECT event_id,
       'app=' || event_type || ',env=prod' AS labels_csv,
       epoch_us(ts) AS line_ts_us,
       props AS line
FROM events"""

    o["otlpjson_render_roundtrip"] = """
SELECT event_id,
       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
       'render' AS scope_name,
       epoch_us(ts) * 1000 AS time_unix_nano,
       upper(event_type) AS severity_text,
       CAST(event_id % 24 + 1 AS INTEGER) AS severity_number,
       props AS body,
       event_type AS attr_etype
FROM events"""

    # --- statsdreceiver flush aggregation -------------------------------------

    o["statsd_flush_aggregate"] = """
WITH base AS (
  SELECT 'm.' || event_type AS st_name,
         'env:prod,host:h' || CAST(user_id % 3 AS VARCHAR) AS st_tags_csv,
         event_id % 4 AS k,
         CAST(event_id % 97 + 1 AS DOUBLE) AS v,
         event_id % 3 AS sign,
         event_id AS pos
  FROM events),
counters AS (
  SELECT st_name, st_tags_csv, 'counter' AS kind,
         sum(CASE WHEN k = 1 THEN v / CAST('0.5' AS DOUBLE) ELSE v END) AS value
  FROM base WHERE k IN (0, 1) GROUP BY 1, 2),
gsrc AS (
  SELECT st_name, st_tags_csv, pos,
         CASE WHEN sign = 2 THEN -v ELSE v END AS gv,
         (sign <> 0) AS addition
  FROM base WHERE k = 2),
greset AS (
  SELECT st_name, st_tags_csv, max(CASE WHEN NOT addition THEN pos END) AS rpos
  FROM gsrc GROUP BY 1, 2),
gauges AS (
  SELECT g.st_name, g.st_tags_csv, 'gauge' AS kind, sum(g.gv) AS value
  FROM gsrc g JOIN greset r USING (st_name, st_tags_csv)
  WHERE r.rpos IS NULL OR g.pos >= r.rpos
  GROUP BY 1, 2),
tsrc AS (
  SELECT st_name, st_tags_csv, v,
         CASE WHEN pos % 8 <> 3 THEN 4.0 ELSE 1.0 END AS w
  FROM base WHERE k = 3),
tstat AS (
  SELECT st_name, st_tags_csv,
         CAST(floor(sum(w)) AS BIGINT) AS s_count,
         sum(v * w) AS s_sum, sum(w) AS bigw
  FROM tsrc GROUP BY 1, 2),
tcum AS (
  SELECT st_name, st_tags_csv, v,
         sum(w) OVER (PARTITION BY st_name, st_tags_csv ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
  FROM tsrc),
q AS (
  SELECT t.st_name, t.st_tags_csv, any_value(t.s_count) AS s_count,
         any_value(t.s_sum) AS s_sum,
         min(CASE WHEN c.cumw >= CAST('0.5' AS DOUBLE) * t.bigw THEN c.v END) AS q50,
         min(CASE WHEN c.cumw >= CAST('0.95' AS DOUBLE) * t.bigw THEN c.v END) AS q95
  FROM tstat t JOIN tcum c USING (st_name, st_tags_csv)
  GROUP BY 1, 2)
SELECT st_name, st_tags_csv, kind, value,
       CAST(NULL AS BIGINT) AS s_count, CAST(NULL AS DOUBLE) AS s_sum,
       CAST(NULL AS DOUBLE) AS q50, CAST(NULL AS DOUBLE) AS q95
FROM counters
UNION ALL
SELECT st_name, st_tags_csv, kind, value, NULL, NULL, NULL, NULL FROM gauges
UNION ALL
SELECT st_name, st_tags_csv, 'summary', CAST(NULL AS DOUBLE),
       s_count, s_sum, q50, q95
FROM q"""

    # --- CEF / LEEF / CLF round trips (expected fields rebuilt from source) ---

    o["cef_parse_roundtrip"] = """
SELECT event_id,
       '0' AS cef_version,
       'Acme|' || event_type AS cef_device_vendor,
       'threat\\manager' AS cef_device_product,
       CAST(event_id % 100 AS VARCHAR) AS cef_device_event_class_id,
       'ev ' || event_type AS cef_name,
       CAST(event_id % 10 AS VARCHAR) AS cef_severity,
       'msg=' || props || '=' || chr(10) || 'tail' || chr(30)
           || 'src=' || CAST(user_id AS VARCHAR) AS ext_csv
FROM events"""

    o["leef_parse_roundtrip"] = """
SELECT event_id,
       CASE WHEN event_id % 2 = 0 THEN '1.0' ELSE '2.0' END AS leef_version,
       'IBM' AS leef_vendor,
       event_type AS leef_product_name,
       '7.3' AS leef_product_version,
       'E' || CAST(event_id % 50 AS VARCHAR) AS leef_event_id,
       'msg=' || props || chr(30)
           || 'url=http://x?k=' || CAST(event_id AS VARCHAR) || chr(30)
           || 'usrName=u' || CAST(user_id AS VARCHAR) AS attrs_csv
FROM events"""

    o["clf_parse_roundtrip"] = """
SELECT event_id,
       '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.1' AS clf_remote_host,
       'u' || CAST(user_id AS VARCHAR) AS clf_auth_user,
       '10/Oct/2000:13:55:36 -0700' AS clf_timestamp,
       'GET /p/' || CAST(event_id AS VARCHAR) || '?q="' || event_type
           || '" HTTP/1.1' AS clf_request,
       'GET' AS clf_method,
       '/p/' || CAST(event_id AS VARCHAR) || '?q="' || event_type || '"'
           AS clf_request_uri,
       'HTTP/1.1' AS clf_protocol,
       CAST(200 + (event_id % 4) * 100 AS BIGINT) AS clf_status,
       CASE WHEN event_id % 5 <> 0 THEN event_id END AS clf_bytes,
       'http://r.example/' || event_type || '/"q"' AS clf_referer,
       'agent\\v1' AS clf_user_agent
FROM events"""

    # --- spanpruningprocessor -------------------------------------------------

    _prune_leaves = """
  SELECT 'tr' || CAST(user_id % 200 AS VARCHAR) AS trace_id,
         's' || CAST(event_id AS VARCHAR) AS span_id,
         'root-tr' || CAST(user_id % 200 AS VARCHAR) AS parent_span_id,
         event_type AS name,
         CASE WHEN value > 100 THEN 'Error' ELSE 'Ok' END AS status,
         CAST(epoch_us(ts) * 1000 AS BIGINT) AS start_ns,
         CAST(epoch_us(ts) * 1000 AS BIGINT) + CAST(trunc(value * 1000) AS BIGINT) AS end_ns
  FROM events"""

    _null_stats = """CAST(NULL AS BIGINT) AS agg_span_count,
       CAST(NULL AS BIGINT) AS agg_duration_min_ns, CAST(NULL AS BIGINT) AS agg_duration_max_ns,
       CAST(NULL AS BIGINT) AS agg_duration_total_ns, CAST(NULL AS BIGINT) AS agg_duration_avg_ns"""

    o["span_pruning_flat"] = f"""
WITH leaves AS ({_prune_leaves}),
grp AS (
  SELECT trace_id, name, status, count(*) AS cnt,
         min(end_ns - start_ns) AS dmin, max(end_ns - start_ns) AS dmax,
         CAST(sum(end_ns - start_ns) AS BIGINT) AS dtot,
         min(start_ns) AS smin, max(end_ns) AS emax
  FROM leaves GROUP BY 1, 2, 3),
agg AS (SELECT * FROM grp WHERE cnt >= 5)
SELECT l.trace_id, l.span_id, l.parent_span_id, l.name, l.status,
       FALSE AS is_summary, {_null_stats}, l.start_ns, l.end_ns
FROM leaves l LEFT JOIN agg a
  ON l.trace_id = a.trace_id AND l.name = a.name AND l.status = a.status
WHERE a.cnt IS NULL
UNION ALL
SELECT trace_id, 'root-' || trace_id, '', 'svc', 'Unset', FALSE, {_null_stats},
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM (SELECT DISTINCT trace_id FROM leaves)
UNION ALL
SELECT trace_id,
       substr(md5(trace_id || '|parent=svc|depth=1|' || name || '|kind=Client|status='
                  || status || '|ts='), 1, 16),
       'root-' || trace_id, name, status, TRUE,
       cnt, dmin, dmax, dtot, CAST(dtot // cnt AS BIGINT), smin, emax
FROM agg"""

    o["span_pruning_tree"] = f"""
WITH leaves AS (
  SELECT 'tr' || CAST(user_id % 200 AS VARCHAR) AS trace_id,
         's' || CAST(event_id AS VARCHAR) AS span_id,
         'h' || CAST(event_id % 3 AS VARCHAR) || '-tr' || CAST(user_id % 200 AS VARCHAR)
           AS parent_span_id,
         CAST(event_id % 3 AS BIGINT) AS hidx,
         event_type AS name,
         CAST(epoch_us(ts) * 1000 AS BIGINT) AS start_ns,
         CAST(epoch_us(ts) * 1000 AS BIGINT) + CAST(trunc(value * 1000) AS BIGINT) AS end_ns
  FROM events),
lgrp AS (
  SELECT trace_id, name, count(*) AS cnt,
         min(end_ns - start_ns) AS dmin, max(end_ns - start_ns) AS dmax,
         CAST(sum(end_ns - start_ns) AS BIGINT) AS dtot,
         min(start_ns) AS smin, max(end_ns) AS emax
  FROM leaves GROUP BY 1, 2),
lagg AS (SELECT * FROM lgrp WHERE cnt >= 5),
helig AS (
  SELECT l.trace_id, l.hidx, bool_and(g.cnt >= 5) AS eligible
  FROM leaves l JOIN lgrp g ON g.trace_id = l.trace_id AND g.name = l.name
  GROUP BY 1, 2),
pgrp AS (
  SELECT trace_id, count(*) AS pcnt, min(hidx) AS minidx, max(hidx) AS maxidx
  FROM helig WHERE eligible GROUP BY trace_id HAVING count(*) >= 2),
firstleaf AS (
  SELECT trace_id, name, hidx FROM (
    SELECT trace_id, name, hidx,
           row_number() OVER (PARTITION BY trace_id, name ORDER BY start_ns, span_id) AS rn
    FROM leaves) WHERE rn = 1),
lsum AS (
  SELECT a.*,
         CASE WHEN h.eligible AND p.trace_id IS NOT NULL
              THEN substr(md5(a.trace_id || '|1|handler|kind=Client|status=Unset|ts='), 1, 16)
              ELSE 'h' || CAST(f.hidx AS VARCHAR) || '-' || a.trace_id END AS sparent
  FROM lagg a
  JOIN firstleaf f ON f.trace_id = a.trace_id AND f.name = a.name
  JOIN helig h ON h.trace_id = a.trace_id AND h.hidx = f.hidx
  LEFT JOIN pgrp p ON p.trace_id = a.trace_id)
SELECT l.trace_id, l.span_id, l.parent_span_id, l.name, 'Ok' AS status,
       FALSE AS is_summary, {_null_stats}, l.start_ns, l.end_ns
FROM leaves l
LEFT JOIN lagg a ON l.trace_id = a.trace_id AND l.name = a.name
WHERE a.cnt IS NULL
UNION ALL
SELECT h.trace_id, 'h' || CAST(h.hidx AS VARCHAR) || '-' || h.trace_id,
       'root-' || h.trace_id, 'handler', 'Unset', FALSE, {_null_stats},
       h.hidx, h.hidx + 10000000
FROM helig h
LEFT JOIN pgrp p ON p.trace_id = h.trace_id
WHERE NOT h.eligible OR p.trace_id IS NULL
UNION ALL
SELECT trace_id, 'root-' || trace_id, '', 'svc', 'Unset', FALSE, {_null_stats},
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM (SELECT DISTINCT trace_id FROM leaves)
UNION ALL
SELECT trace_id,
       substr(md5(trace_id || '|1|handler|kind=Client|status=Unset|ts='), 1, 16),
       'root-' || trace_id, 'handler', 'Unset', TRUE,
       pcnt, CAST(10000000 AS BIGINT), CAST(10000000 AS BIGINT),
       CAST(10000000 * pcnt AS BIGINT), CAST(10000000 AS BIGINT), minidx, maxidx + 10000000
FROM pgrp
UNION ALL
SELECT trace_id,
       substr(md5(trace_id || '|parent=handler|depth=2|' || name
                  || '|kind=Client|status=Ok|ts='), 1, 16),
       sparent, name, 'Ok', TRUE, cnt, dmin, dmax, dtot, CAST(dtot // cnt AS BIGINT), smin, emax
FROM lsum"""

    o["span_pruning_outliers"] = f"""
WITH leaves AS ({_prune_leaves}),
base AS (SELECT *, end_ns - start_ns AS d FROM leaves),
arrs AS (
  SELECT trace_id, name, status, count(*) AS n, list(d ORDER BY d) AS arr
  FROM base GROUP BY 1, 2, 3),
med AS (
  SELECT *,
    CASE WHEN n % 2 = 1 THEN arr[n // 2 + 1]
         ELSE (arr[n // 2] + arr[n // 2 + 1]) // 2 END AS median,
    arr[n // 4 + 1] AS q1, arr[3 * n // 4 + 1] AS q3
  FROM arrs),
thr AS (
  SELECT trace_id, name, status, n, median,
    greatest(q3 + CAST(trunc(CAST(q3 - q1 AS DOUBLE) * CAST('1.5' AS DOUBLE)) AS BIGINT),
             CAST(trunc(CAST(median AS DOUBLE) * CAST('1.1' AS DOUBLE)) AS BIGINT)) AS upper_,
    (n >= 7) AS analyzed
  FROM med),
outs AS (
  SELECT b.*, f.analyzed, f.median, f.n,
         (f.analyzed AND b.d > f.upper_) AS is_out
  FROM base b JOIN thr f USING (trace_id, name, status)),
gstat AS (
  SELECT trace_id, name, status,
         any_value(n) AS n, any_value(analyzed) AS analyzed, any_value(median) AS median,
         count(*) FILTER (WHERE is_out) AS n_out,
         count(*) FILTER (WHERE NOT is_out) AS n_norm,
         min(d) FILTER (WHERE NOT is_out) AS dmin,
         max(d) FILTER (WHERE NOT is_out) AS dmax,
         CAST(sum(d) FILTER (WHERE NOT is_out) AS BIGINT) AS dtot,
         min(start_ns) FILTER (WHERE NOT is_out) AS smin,
         max(end_ns) FILTER (WHERE NOT is_out) AS emax,
         string_agg(span_id, ',' ORDER BY d DESC, start_ns, span_id)
           FILTER (WHERE is_out) AS out_ids
  FROM outs GROUP BY 1, 2, 3),
agg AS (
  SELECT *, substr(md5(trace_id || '|parent=svc|depth=1|' || name
                   || '|kind=Client|status=' || status || '|ts='), 1, 16) AS sid
  FROM gstat WHERE n_norm >= 5 AND n >= 5)
SELECT b.trace_id, b.span_id, b.parent_span_id, b.name, b.status,
       FALSE AS is_summary, {_null_stats}, b.start_ns, b.end_ns,
       CAST(NULL AS BIGINT) AS agg_duration_median_ns,
       CAST(NULL AS BIGINT) AS agg_preserved_outlier_count,
       CAST(NULL AS VARCHAR) AS agg_preserved_outlier_span_ids,
       FALSE AS agg_is_preserved_outlier, CAST(NULL AS VARCHAR) AS agg_summary_span_id
FROM outs b LEFT JOIN agg a
  ON b.trace_id = a.trace_id AND b.name = a.name AND b.status = a.status
WHERE a.sid IS NULL
UNION ALL
SELECT b.trace_id, b.span_id, b.parent_span_id, b.name, b.status,
       FALSE, {_null_stats}, b.start_ns, b.end_ns,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       TRUE, a.sid
FROM outs b JOIN agg a
  ON b.trace_id = a.trace_id AND b.name = a.name AND b.status = a.status
WHERE b.is_out
UNION ALL
SELECT trace_id, 'root-' || trace_id, '', 'svc', 'Unset', FALSE, {_null_stats},
       CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       FALSE, CAST(NULL AS VARCHAR)
FROM (SELECT DISTINCT trace_id FROM leaves)
UNION ALL
SELECT trace_id, sid, 'root-' || trace_id, name, status, TRUE,
       n_norm, dmin, dmax, dtot, CAST(dtot // n_norm AS BIGINT), smin, emax,
       CASE WHEN analyzed THEN median END,
       CASE WHEN n_out > 0 THEN n_out END,
       out_ids, FALSE, CAST(NULL AS VARCHAR)
FROM agg"""

    # --- transformprocessor metric-context editors ---------------------------

    o["metrics_editor_chain"] = """
WITH dbl AS (
  SELECT event_id, 'events.value' AS metric_name, 'Sum' AS metric_type,
         's' AS metric_unit, 'Cumulative' AS metric_aggregation_temporality,
         TRUE AS metric_is_monotonic, value * 0.5 AS value
  FROM events),
ints AS (
  SELECT event_id, 'events.points' AS metric_name, 'Sum' AS metric_type,
         '1' AS metric_unit, 'Delta' AS metric_aggregation_temporality,
         FALSE AS metric_is_monotonic,
         CAST(CAST(trunc(CAST(((event_id * 7 - 3) % 1000 + 1000) % 1000 AS BIGINT) * 0.5)
              AS BIGINT) AS DOUBLE) AS value
  FROM events)
SELECT * FROM dbl
UNION ALL
SELECT event_id, 'events.value.copy', metric_type, '1',
       metric_aggregation_temporality, metric_is_monotonic, value FROM dbl
UNION ALL
SELECT * FROM ints"""

    # extract_count/sum keep h_count/h_sum verbatim; the p90 mirrors the
    # reference bucket walk + linear interpolation arithmetic op-for-op
    o["metrics_extract_hist"] = """
WITH dp AS (
  SELECT event_type, count(*) AS h_count,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS h_sum,
         min(value) AS h_min, max(value) AS h_max,
         CAST(sum(CASE WHEN value <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
         CAST(sum(CASE WHEN value > 1 AND value <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(sum(CASE WHEN value > 5 AND value <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(sum(CASE WHEN value > 10 AND value <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(sum(CASE WHEN value > 50 AND value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
         CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS b5
  FROM events GROUP BY 1),
pct AS (
  SELECT *, CAST(ceil(h_count * 0.9) AS BIGINT) AS t FROM dp),
walk AS (
  SELECT *,
    CASE WHEN b0 >= t THEN 0 WHEN b0+b1 >= t THEN 1 WHEN b0+b1+b2 >= t THEN 2
         WHEN b0+b1+b2+b3 >= t THEN 3 WHEN b0+b1+b2+b3+b4 >= t THEN 4 ELSE 5 END AS idx
  FROM pct),
interp AS (
  SELECT event_type,
    CASE WHEN idx = 5 AND (h_max IS NULL OR h_max <= 100.0)
         THEN 100.0
         ELSE (CASE idx WHEN 0 THEN (CASE WHEN h_min < 1.0 THEN h_min ELSE 0.0 END)
                        WHEN 1 THEN 1.0 WHEN 2 THEN 5.0 WHEN 3 THEN 10.0
                        WHEN 4 THEN 50.0 ELSE 100.0 END)
              + (CAST(t - (CASE idx WHEN 0 THEN 0 WHEN 1 THEN b0 WHEN 2 THEN b0+b1
                                    WHEN 3 THEN b0+b1+b2 WHEN 4 THEN b0+b1+b2+b3
                                    ELSE b0+b1+b2+b3+b4 END) AS DOUBLE)
                 / CAST((CASE idx WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
                                  WHEN 3 THEN b3 WHEN 4 THEN b4 ELSE b5 END) AS DOUBLE))
              * ((CASE idx WHEN 0 THEN 1.0 WHEN 1 THEN 5.0 WHEN 2 THEN 10.0
                           WHEN 3 THEN 50.0 WHEN 4 THEN 100.0 ELSE h_max END)
                 - (CASE idx WHEN 0 THEN (CASE WHEN h_min < 1.0 THEN h_min ELSE 0.0 END)
                             WHEN 1 THEN 1.0 WHEN 2 THEN 5.0 WHEN 3 THEN 10.0
                             WHEN 4 THEN 50.0 ELSE 100.0 END))
    END AS value
  FROM walk)
SELECT event_type, 'events.latency_count' AS metric_name, '1' AS metric_unit,
       CAST(h_count AS DOUBLE) AS value FROM dp
UNION ALL
SELECT event_type, 'events.latency_sum', 'ms', h_sum FROM dp
UNION ALL
SELECT event_type, 'events.latency_p90', 'ms', value FROM interp"""

    o["metrics_summary_editors"] = """
WITH dp AS (
  SELECT event_type, count(*) AS s_count,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s_sum,
         min(value) AS mn, max(value) AS mx
  FROM events GROUP BY 1)
SELECT event_type, 'events.rt_count' AS metric_name, 'Sum' AS metric_type,
       'Delta' AS metric_aggregation_temporality, CAST(NULL AS DOUBLE) AS quantile,
       CAST(s_count AS DOUBLE) AS value FROM dp
UNION ALL
SELECT event_type, 'events.rt_sum', 'Sum', 'Cumulative', NULL, s_sum FROM dp
UNION ALL
SELECT event_type, 'events.rt.quantiles', 'Gauge', NULL, 0.5, mn + 0.5 * (mx - mn) FROM dp
UNION ALL
SELECT event_type, 'events.rt.quantiles', 'Gauge', NULL, 0.9, mn + 0.9 * (mx - mn) FROM dp"""

    # same integer synthesis + the same exp-bucket bound arithmetic
    # (exp(index * (ln(2) * pow(2, -scale)))) as the Spark operator; bounds
    # [0,3,12,50,200] with bounds[0]=0 so zero_count lands in bucket 0
    o["metrics_exp_to_explicit"] = """
WITH cell AS (
  SELECT event_type,
         CAST(length(event_type) % 2 AS INTEGER) AS scale,
         CAST(sum(CASE WHEN event_id % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zc,
         CAST(length(event_type) % 3 - 1 AS INTEGER) AS off,
         count(*) AS h_count,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS h_sum,
         [sum(CASE WHEN event_id % 6 = 0 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 1 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 2 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 3 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 4 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 5 THEN 1 ELSE 0 END)] AS counts
  FROM events GROUP BY event_type),
expb AS (
  SELECT c.event_type, c.zc, c.h_count, c.h_sum, a.algo, g.pos,
         CAST(c.counts[g.pos + 1] AS BIGINT) AS cnt,
         exp((c.off + g.pos) * (ln(2) * pow(2, -c.scale))) AS lo,
         exp((c.off + g.pos + 1) * (ln(2) * pow(2, -c.scale))) AS hi
  FROM cell c
  CROSS JOIN (SELECT unnest(range(0, 6)) AS pos) g
  CROSS JOIN (SELECT unnest(['upper', 'midpoint', 'uniform']) AS algo) a),
res AS (
  SELECT *,
    CASE WHEN lo > 200.0 THEN 4
         WHEN lo > 0.0  AND hi <= 3.0   THEN 0
         WHEN lo > 3.0  AND hi <= 12.0  THEN 1
         WHEN lo > 12.0 AND hi <= 50.0  THEN 2
         WHEN lo > 50.0 AND hi <= 200.0 THEN 3
         ELSE CASE algo
           WHEN 'upper' THEN
             CASE WHEN hi <= 0.0 THEN 0 WHEN hi <= 3.0 THEN 1 WHEN hi <= 12.0 THEN 2
                  WHEN hi <= 50.0 THEN 3 ELSE 4 END
           WHEN 'midpoint' THEN
             CASE WHEN (hi + lo) / 2 <= 0.0 THEN 0 WHEN (hi + lo) / 2 <= 3.0 THEN 0
                  WHEN (hi + lo) / 2 <= 12.0 THEN 1 WHEN (hi + lo) / 2 <= 50.0 THEN 2
                  WHEN (hi + lo) / 2 <= 200.0 THEN 3 ELSE 4 END
           ELSE -1 END
    END AS tgt,
    CASE WHEN lo <= 0.0 THEN 0 WHEN lo <= 3.0 THEN 1 WHEN lo <= 12.0 THEN 2
         WHEN lo <= 50.0 THEN 3 ELSE 4 END AS start_,
    greatest(least(CASE WHEN hi <= 0.0 THEN 0 WHEN hi <= 3.0 THEN 1 WHEN hi <= 12.0 THEN 2
                        WHEN hi <= 50.0 THEN 3 ELSE 4 END, 4),
             CASE WHEN lo <= 0.0 THEN 0 WHEN lo <= 3.0 THEN 1 WHEN lo <= 12.0 THEN 2
                  WHEN lo <= 50.0 THEN 3 ELSE 4 END) AS end_
  FROM expb),
sh AS (
  SELECT event_type, algo, zc, h_count, h_sum,
    CASE WHEN tgt >= 0 THEN CASE WHEN tgt = 0 THEN cnt ELSE 0 END
         WHEN end_ <= start_ THEN CASE WHEN start_ = 0 THEN cnt ELSE 0 END
         WHEN 0 BETWEEN start_ AND end_ THEN CAST(floor(cnt / (end_ - start_ + 1)) AS BIGINT)
              + CASE WHEN 0 - start_ < cnt % (end_ - start_ + 1) THEN 1 ELSE 0 END
         ELSE 0 END AS s0,
    CASE WHEN tgt >= 0 THEN CASE WHEN tgt = 1 THEN cnt ELSE 0 END
         WHEN end_ <= start_ THEN CASE WHEN start_ = 1 THEN cnt ELSE 0 END
         WHEN 1 BETWEEN start_ AND end_ THEN CAST(floor(cnt / (end_ - start_ + 1)) AS BIGINT)
              + CASE WHEN 1 - start_ < cnt % (end_ - start_ + 1) THEN 1 ELSE 0 END
         ELSE 0 END AS s1,
    CASE WHEN tgt >= 0 THEN CASE WHEN tgt = 2 THEN cnt ELSE 0 END
         WHEN end_ <= start_ THEN CASE WHEN start_ = 2 THEN cnt ELSE 0 END
         WHEN 2 BETWEEN start_ AND end_ THEN CAST(floor(cnt / (end_ - start_ + 1)) AS BIGINT)
              + CASE WHEN 2 - start_ < cnt % (end_ - start_ + 1) THEN 1 ELSE 0 END
         ELSE 0 END AS s2,
    CASE WHEN tgt >= 0 THEN CASE WHEN tgt = 3 THEN cnt ELSE 0 END
         WHEN end_ <= start_ THEN CASE WHEN start_ = 3 THEN cnt ELSE 0 END
         WHEN 3 BETWEEN start_ AND end_ THEN CAST(floor(cnt / (end_ - start_ + 1)) AS BIGINT)
              + CASE WHEN 3 - start_ < cnt % (end_ - start_ + 1) THEN 1 ELSE 0 END
         ELSE 0 END AS s3,
    CASE WHEN tgt >= 0 THEN CASE WHEN tgt = 4 THEN cnt ELSE 0 END
         WHEN end_ <= start_ THEN CASE WHEN start_ = 4 THEN cnt ELSE 0 END
         WHEN 4 BETWEEN start_ AND end_ THEN CAST(floor(cnt / (end_ - start_ + 1)) AS BIGINT)
              + CASE WHEN 4 - start_ < cnt % (end_ - start_ + 1) THEN 1 ELSE 0 END
         ELSE 0 END AS s4
  FROM res)
SELECT event_type, algo, h_count, h_sum,
       concat_ws(',', CAST(sum(s0) + zc AS VARCHAR), CAST(sum(s1) AS VARCHAR),
                 CAST(sum(s2) AS VARCHAR), CAST(sum(s3) AS VARCHAR),
                 CAST(sum(s4) AS VARCHAR)) AS buckets_csv
FROM sh GROUP BY event_type, algo, h_count, h_sum, zc"""

    o["metrics_agg_attr_value"] = """
SELECT event_type AS env,
       CASE WHEN CAST(user_id % 4 AS VARCHAR) IN ('0', '1') THEN 'low'
            ELSE CAST(user_id % 4 AS VARCHAR) END AS host,
       {win3600} AS ts_h,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
FROM events GROUP BY 1, 2, 3""".replace("{win3600}", win3600)

    from ..operators.spans import sql_normalize_sql

    trace_frame_sql = """
SELECT 'tr-' || CAST(user_id AS VARCHAR) AS trace_id,
       's' || lpad(CAST(rn AS VARCHAR), 6, '0') AS span_id,
       rn, n, event_type AS name
FROM (SELECT user_id, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        count(*) OVER (PARTITION BY user_id) AS n
      FROM events)"""

    o["trace_transactions"] = f"""
WITH f AS ({trace_frame_sql})
SELECT trace_id, span_id,
  CASE WHEN rn = 1 OR rn % 5 = 0 THEN name
       ELSE first_value(name) OVER (PARTITION BY trace_id ORDER BY rn) END AS tx_name,
  CASE WHEN rn = 1 OR rn % 5 = 0 THEN true ELSE CAST(NULL AS BOOLEAN) END AS tx_root
FROM f"""

    o["trace_critical_path"] = f"""
WITH f AS ({trace_frame_sql})
SELECT trace_id, span_id, true AS on_path,
  CAST(CASE WHEN rn > 1 THEN 800 WHEN n = 1 THEN 900
            ELSE 1100 + 200*(n-2) END AS BIGINT) AS exclusive_ns,
  CAST(CASE WHEN rn > 1 THEN 800 WHEN n = 1 THEN 900
            ELSE 1100 + 200*(n-2) + 800*(n-1) END AS BIGINT) AS inclusive_ns
FROM f"""

    o["sumologic_attrs"] = """
SELECT event_id,
  CASE WHEN event_id % 4 = 0 THEN 'aws/ec2' WHEN event_id % 4 = 1 THEN 'ecs'
       WHEN event_id % 4 = 2 THEN 'ElasticBeanstalk' ELSE NULL END AS cloud_namespace,
  'h-' || CAST(user_id AS VARCHAR) AS host,
  'pod-' || CAST(event_id % 10 AS VARCHAR) AS pod,
  CASE event_id % 4 WHEN 0 THEN 'aws_ec2' WHEN 1 THEN 'aws_ecs'
       WHEN 2 THEN 'aws_elastic_beanstalk' ELSE 'gcp_compute' END AS aws_service,
  'hp-' || CAST(user_id AS VARCHAR) AS pod_hostname_kept,
  CASE WHEN event_id % 3 = 0 THEN 'app=' || event_type || ',phase=' || event_type
       ELSE 'app=' || event_type END AS pods_sorted,
  CAST(event_id % 5 AS INT) AS loglevel
FROM events"""

    o["metrics_as_logs_sum"] = """
SELECT event_type, 'metric converted to log' AS body,
  'events.value.total' AS metric_name, 'Sum' AS metric_type,
  '1' AS metric_unit, true AS metric_is_monotonic,
  'Cumulative' AS metric_aggregation_temporality,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  CAST(NULL AS BIGINT) AS histogram_count
FROM events GROUP BY event_type"""

    o["generate_static_entries"] = """
SELECT CAST(range AS BIGINT) AS seq, 'benchmark line' AS body, 'INFO' AS severity
FROM range(100)"""

    o["journald_parse"] = """
WITH j AS (SELECT event_id,
  event_type || ' uid=' || CAST(user_id AS VARCHAR) AS msg,
  CAST(event_id % 8 AS INT) AS prio, ts,
  'host-' || CAST(user_id % 4 AS VARCHAR) AS hostname,
  'svc-' || CAST(user_id % 3 AS VARCHAR) || '.service' AS unit
FROM events)
SELECT event_id, msg AS jd_body, prio AS jd_priority,
  CASE WHEN prio <= 2 THEN 'FATAL' WHEN prio = 3 THEN 'ERROR'
       WHEN prio = 4 THEN 'WARN' WHEN prio <= 6 THEN 'INFO'
       ELSE 'DEBUG' END AS jd_severity,
  ts AS jd_ts, hostname AS jd_hostname, unit AS jd_unit
FROM j"""

    o["resource_detect_attrs"] = """
SELECT event_id, 'transcripts' AS service_name, 'bench' AS deployment_environment,
  'spark-host-0' AS host_name, 'linux' AS os_type, '1.0.0' AS service_version
FROM events"""

    o["events_span_pruning"] = f"""
WITH spans AS ({_SPAN_FRAME_SQL}),
stats AS (
  SELECT user_id, db_system, count(*) AS n,
         quantile_cont(duration_ms, 0.25) AS q1,
         quantile_cont(duration_ms, 0.75) AS q3
  FROM spans GROUP BY 1, 2),
flagged AS (
  SELECT s.*, st.n, (s.duration_ms > st.q3 + 1.5 * (st.q3 - st.q1)) AS is_outlier
  FROM spans s JOIN stats st USING (user_id, db_system))
SELECT user_id, db_system, event_id, FALSE AS is_summary,
       CAST(1 AS BIGINT) AS span_count,
       round(duration_ms, 6) AS min_ms, round(duration_ms, 6) AS max_ms,
       round(duration_ms, 6) AS sum_ms
FROM flagged WHERE n < 5 OR is_outlier
UNION ALL
SELECT user_id, db_system, NULL AS event_id, TRUE AS is_summary,
       count(*) AS span_count,
       round(min(duration_ms), 6) AS min_ms, round(max(duration_ms), 6) AS max_ms,
       round(sum(duration_ms), 6) AS sum_ms
FROM flagged WHERE n >= 5 AND NOT is_outlier
GROUP BY 1, 2"""

    o["slow_sql_logs"] = f"""
WITH spans AS ({_SPAN_FRAME_SQL})
SELECT event_id, user_id, db_system, db_statement, round(duration_ms, 6) AS duration_ms
FROM spans
WHERE db_system IN ('h2','mongodb','mssql','mysql','oracle','postgresql','mariadb')
  AND db_statement IS NOT NULL AND duration_ms >= 500.0"""

    o["sql_digest_rollup"] = f"""
WITH spans AS ({_SPAN_FRAME_SQL}),
slow AS (SELECT * FROM spans
         WHERE db_system IN ('h2','mongodb','mssql','mysql','oracle','postgresql','mariadb')
           AND db_statement IS NOT NULL AND duration_ms >= 100.0)
SELECT db_system, {sql_normalize_sql('db_statement')} AS digest,
       count(*) AS calls,
       round(sum(duration_ms), 6) AS total_ms,
       round(max(duration_ms), 6) AS max_ms,
       round(quantile_cont(duration_ms, 0.95), 6) AS p95_ms
FROM slow GROUP BY 1, 2"""

    o["events_counter_reset"] = """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events)
SELECT event_id, user_id,
       round(value + sum(CASE WHEN prev IS NOT NULL AND value < prev THEN prev ELSE 0.0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING), 6) AS adjusted
FROM w"""

    o["grok_apache_combined"] = """
SELECT doc_id,
       '10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
             || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) AS clientip,
       'u' || CAST(doc_id % 50 AS VARCHAR) AS auth,
       CASE doc_id % 3 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'PUT' END AS verb,
       '/api/' || source || '/' || CAST(doc_id AS VARCHAR) AS request,
       (doc_id % 4) * 100 + 200 AS response,
       (doc_id * 37) % 100000 AS bytes,
       '"http://ref.example/' || CAST(doc_id % 20 AS VARCHAR) || '"' AS referrer,
       '"UA/' || CAST(doc_id % 10 AS VARCHAR) || '.0"' AS agent
FROM documents"""

    o["events_asof_enrich"] = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
r AS (SELECT user_id, ts, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       epoch_us(r.ts) AS asof_ts_us, round(r.purchase_value, 6) AS purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""

    o["events_session_stats"] = """
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > CAST(1800 AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
t AS (SELECT user_id, us,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM s)
SELECT user_id, session_idx,
       CAST(min(us) / 1000000 AS DOUBLE) AS session_start_s,
       CAST(max(us) / 1000000 AS DOUBLE) AS session_end_s,
       CAST((max(us) - min(us)) / 1000000 AS DOUBLE) AS duration_s,
       count(*) AS n_events
FROM t GROUP BY 1, 2"""

    o["events_rollup_gapfill"] = f"""
WITH agg AS (
  SELECT event_type, {win3600} AS bucket_s, count(*) AS n, round(sum(value), 6) AS total
  FROM events GROUP BY 1, 2),
bounds AS (SELECT event_type, min(bucket_s) AS lo, max(bucket_s) AS hi FROM agg GROUP BY 1),
spine AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS bucket_s FROM bounds),
f AS (SELECT spine.event_type, spine.bucket_s, agg.n, agg.total
      FROM spine LEFT JOIN agg USING (event_type, bucket_s))
SELECT event_type, bucket_s, coalesce(n, 0) AS n, coalesce(total, 0.0) AS total,
       round(last_value(total IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS locf_total
FROM f"""

    o["events_quantiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
FROM events GROUP BY 1"""

    o["events_rolling_stats"] = """
WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events),
w AS (
  SELECT event_id, user_id, value,
    count(value)       OVER win AS n,
    sum(value)         OVER win AS s1,
    sum(value * value) OVER win AS s2
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
  CAST(n AS BIGINT) AS n_window,
  round(s1, 6) AS sum_window,
  round(s1 / n, 6) AS mean_window,
  round(CASE WHEN n >= 2 THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) END, 6) AS std_window,
  round(CASE WHEN n >= 2 AND sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) > 0
             THEN (value - s1 / n) / sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) END, 6) AS z_window
FROM w"""

    o["events_error_transitions"] = """
WITH e AS (
  SELECT user_id, event_id, event_type = 'error' AS st,
    lag(event_type = 'error') OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id, event_id,
  CASE WHEN (prev IS NULL OR NOT prev) AND st THEN 'rising'
       WHEN prev AND NOT st THEN 'falling' END AS edge
FROM e
WHERE (prev IS NULL OR NOT prev) AND st OR (prev AND NOT st)"""

    o["events_range_burst"] = """
WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error')
SELECT l.user_id, l.event_id, count(r.event_id) AS n_nearby
FROM l LEFT JOIN events r
  ON l.user_id = r.user_id AND r.event_id <> l.event_id
 AND abs(epoch_us(r.ts) - l.us) <= CAST(300 AS BIGINT) * 1000000
GROUP BY 1, 2"""

    o["events_count_by_type"] = (
        "SELECT event_type, count(*) AS log_count FROM events WHERE value > 50 GROUP BY 1"
    )

    # GROUPING() bit encoding (first arg = MSB) is the SQL standard both
    # engines implement; ts is never NULL in the fixture so a NULL hour
    # always means "rolled up".
    o["events_top_users_other"] = """
WITH per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS total
  FROM events GROUP BY 1),
r AS (SELECT *, row_number() OVER (ORDER BY n DESC, user_id) AS rnk FROM per),
kept AS (SELECT CAST(user_id AS VARCHAR) AS user_id, n, CAST(total AS DOUBLE) AS total
         FROM r WHERE rnk <= 10),
oth AS (SELECT '__other__' AS user_id, CAST(sum(n) AS BIGINT) AS n,
          CAST(CAST(sum(total) AS DECIMAL(28,6)) AS DOUBLE) AS total
        FROM r WHERE rnk > 10 HAVING sum(n) IS NOT NULL)
SELECT user_id, n, total FROM kept UNION ALL SELECT user_id, n, total FROM oth"""

    o["events_mann_whitney"] = """
WITH s AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS ab, value FROM events),
r AS (
  SELECT event_type, ab, value,
    rank() OVER (PARTITION BY event_type ORDER BY value)
      + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS rr
  FROM s),
ties AS (
  SELECT event_type,
    CAST(sum(CAST(t AS DECIMAL(19,0)) * t * t - t) AS DECIMAL(38,0)) AS tie3
  FROM (SELECT event_type, value, count(*) AS t FROM s GROUP BY 1, 2)
  GROUP BY 1),
a AS (
  SELECT event_type,
    CAST(sum(CASE WHEN ab = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN ab = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    sum(CASE WHEN ab = 0 THEN rr END) AS ra
  FROM r GROUP BY 1),
d AS (
  SELECT a.event_type, n_a, n_b,
    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
    ra, CAST(tie3 AS DOUBLE) AS tie3d
  FROM a JOIN ties ON a.event_type = ties.event_type),
f AS (
  SELECT event_type, n_a, n_b,
    ra - nad * (nad + 1.0) / 2.0 AS u,
    nad * nbd / 2.0 AS mu,
    nad * nbd / 12.0 * (((nad + nbd) + 1.0)
      - tie3d / ((nad + nbd) * ((nad + nbd) - 1.0))) AS var,
    nad, nbd
  FROM d)
SELECT event_type, n_a, n_b,
  round(u, 6) AS u_stat,
  round(CASE WHEN n_a > 0 AND n_b > 0 AND var > 0 THEN (u - mu) / sqrt(var) END, 6) AS z,
  round(CASE WHEN n_a > 0 AND n_b > 0 THEN u / (nad * nbd) END, 6) AS p_a_gt_b
FROM f"""

    o["events_hourly_residuals"] = """
WITH s AS (
  SELECT event_id, event_type, CAST(value AS DOUBLE) AS value,
         CAST(hour(ts) AS INT) AS b,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events),
prof AS (
  SELECT event_type, b, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(v) AS DECIMAL(38,6)) AS s1,
    CAST(sum(CAST(value AS DECIMAL(19,6)) * v) AS DECIMAL(38,12)) AS s2
  FROM s GROUP BY 1, 2),
p2 AS (
  SELECT event_type, b, n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
    sqrt(CASE WHEN n > 1 THEN greatest(
      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0), 0.0) END) AS sd
  FROM prof),
j AS (
  SELECT s.event_id, s.event_type, s.b AS season_bucket,
         p2.mean, p2.sd, s.value - p2.mean AS resid
  FROM s JOIN p2 ON s.event_type = p2.event_type AND s.b = p2.b)
SELECT event_id, event_type, season_bucket,
  round(mean, 6) AS baseline, round(resid, 6) AS residual,
  round(CASE WHEN sd > 0 THEN resid / sd END, 6) AS season_z,
  coalesce(abs(CASE WHEN sd > 0 THEN resid / sd END) > 3.0, FALSE) AS season_anomaly
FROM j"""

    # Welch t: the double expressions mirror the Spark operator's
    # association order; all sums decimal (order-free).
    o["events_welch_ab"] = """
WITH s AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS ab,
         CAST(value AS DECIMAL(18,6)) AS v, value
  FROM events),
per AS (
  SELECT event_type, ab, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(v) AS DECIMAL(38,6)) AS s1,
    CAST(sum(CAST(value AS DECIMAL(19,6)) * v) AS DECIMAL(38,12)) AS s2
  FROM s GROUP BY 1, 2),
piv AS (
  SELECT event_type,
    CAST(sum(CASE WHEN ab = 0 THEN n END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN ab = 1 THEN n END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN ab = 0 THEN s1 END) AS DECIMAL(38,6)) AS s1a,
    CAST(sum(CASE WHEN ab = 1 THEN s1 END) AS DECIMAL(38,6)) AS s1b,
    CAST(sum(CASE WHEN ab = 0 THEN s2 END) AS DECIMAL(38,12)) AS s2a,
    CAST(sum(CASE WHEN ab = 1 THEN s2 END) AS DECIMAL(38,12)) AS s2b
  FROM per GROUP BY 1),
d AS (
  SELECT event_type, n_a, n_b,
    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
    CAST(s1a AS DOUBLE) AS s1ad, CAST(s1b AS DOUBLE) AS s1bd,
    CAST(s2a AS DOUBLE) AS s2ad, CAST(s2b AS DOUBLE) AS s2bd
  FROM piv),
f AS (
  SELECT event_type, n_a, n_b,
    s1ad / nad AS ma, s1bd / nbd AS mb,
    CASE WHEN n_a > 1 THEN greatest((s2ad - s1ad * s1ad / nad) / (nad - 1.0), 0.0) END AS va,
    CASE WHEN n_b > 1 THEN greatest((s2bd - s1bd * s1bd / nbd) / (nbd - 1.0), 0.0) END AS vb,
    nad, nbd
  FROM d),
g AS (SELECT *, va / nad + vb / nbd AS se2 FROM f)
SELECT event_type, n_a, n_b,
  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
  round(CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN (ma - mb) / sqrt(se2) END, 6) AS t_stat,
  round(CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
        THEN se2 * se2 / ((va / nad) * (va / nad) / (nad - 1.0)
                          + (vb / nbd) * (vb / nbd) / (nbd - 1.0)) END, 6) AS welch_df
FROM g"""

    o["events_cusum"] = """
WITH s AS (
  SELECT event_type, epoch_us(ts) AS event_us, event_id,
         CAST(value AS DECIMAL(18,6)) - CAST(50.0 AS DECIMAL(18,6))
           - CAST(0.0 AS DECIMAL(18,6)) AS dev
  FROM events),
p AS (
  SELECT event_type, event_us, event_id,
    CAST(sum(dev) OVER w AS DECIMAL(38,6)) AS pp
  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY event_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (
  SELECT event_type, event_us, event_id,
    CAST(pp - least(min(pp) OVER w, CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS cp,
    CAST(greatest(max(pp) OVER w, CAST(0 AS DECIMAL(38,6))) - pp AS DOUBLE) AS cn
  FROM p WINDOW w AS (PARTITION BY event_type ORDER BY event_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, event_us, event_id,
  round(cp, 6) AS cusum_pos, round(cn, 6) AS cusum_neg,
  (cp > 500.0 OR cn > 500.0) AS alarm
FROM c"""

    # Benford χ² folds terms d1..d9 left-to-right exactly as the Spark
    # loop builds the expression, so the doubles agree bit-for-bit.
    _bp = [
        "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
        "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
        "0.05799194697768673", "0.05115252244738129", "0.04575749056067514",
    ]
    _dcols = ",\n  ".join(
        f"CAST(sum(CASE WHEN d = {i} THEN 1 ELSE 0 END) AS BIGINT) AS d{i}"
        for i in range(1, 10)
    )
    _chi = " + ".join(
        f"(d{i} - nu * {p}) * (d{i} - nu * {p}) / (nu * {p})"
        for i, p in enumerate(_bp, start=1)
    )
    o["events_benford"] = f"""
WITH s AS (
  SELECT event_type,
    CASE WHEN CAST(floor(abs(value)) AS BIGINT) >= 1
         THEN CAST(substr(CAST(CAST(floor(abs(value)) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
    END AS d
  FROM events),
c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
    {_dcols}
  FROM s GROUP BY 1),
u AS (SELECT *, CAST(n_rows - n_skipped AS DOUBLE) AS nu FROM c)
SELECT event_type, CAST(n_rows - n_skipped AS BIGINT) AS n_used, n_skipped,
  d1, d2, d3, d4, d5, d6, d7, d8, d9,
  round(CASE WHEN nu > 0 THEN {_chi} END, 6) AS benford_chi2
FROM u"""

    o["events_flap_profile"] = """
WITH s AS (
  SELECT user_id, event_type AS st, epoch_us(ts) AS us, event_id FROM events),
f AS (
  SELECT user_id, st, us, event_id,
    CASE WHEN lag(st) OVER w IS NULL OR lag(st) OVER w IS DISTINCT FROM st
         THEN 1 ELSE 0 END AS new_run
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
g AS (
  SELECT user_id, st,
    sum(new_run) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM f),
r AS (SELECT user_id, run, count(*) AS len FROM g GROUP BY 1, 2)
SELECT user_id, CAST(sum(len) AS BIGINT) AS n,
  CAST(count(*) - 1 AS BIGINT) AS transitions,
  round((count(*) - 1) / CAST(sum(len) AS DOUBLE), 6) AS flap_rate,
  CAST(max(len) AS BIGINT) AS longest_run
FROM r GROUP BY 1"""

    o["events_autocorr"] = """
WITH s AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
         CAST(value AS DECIMAL(18,6)) AS y
  FROM events),
p AS (
  SELECT event_type, y, lag(y) OVER (PARTITION BY event_type ORDER BY us, event_id) AS x
  FROM s),
q AS (SELECT event_type, x, y FROM p WHERE x IS NOT NULL),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(x) AS DECIMAL(38,6)) AS sx, CAST(sum(y) AS DECIMAL(38,6)) AS sy,
    CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DECIMAL(38,12)) AS sxy,
    CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DECIMAL(38,12)) AS sxx,
    CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DECIMAL(38,12)) AS syy
  FROM q GROUP BY 1),
d AS (SELECT event_type, n_pairs, CAST(n_pairs AS DOUBLE) AS nd,
        CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      FROM a)
SELECT event_type, n_pairs,
  round(CASE WHEN n_pairs > 1 AND (nd * sxxd - sxd * sxd) > 0 AND (nd * syyd - syd * syd) > 0
        THEN (nd * sxyd - sxd * syd) / sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
        END, 6) AS acf_lag1
FROM d"""

    # OLS: the double expressions mirror the Spark operator's association
    # order exactly (n*sxx - sx*sx etc.) so the final doubles are
    # bit-equal; all sums are decimal (order-free).
    o["events_trend"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
o AS (SELECT event_type, min(us) AS x0 FROM e GROUP BY 1),
st AS (SELECT e.event_type,
         CAST(round((us - x0) / 3600000000.0, 9) AS DECIMAL(18,9)) AS x,
         CAST(value AS DECIMAL(18,6)) AS y
       FROM e JOIN o USING (event_type)),
a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS DECIMAL(38,9)) AS sx, CAST(sum(y) AS DECIMAL(38,6)) AS sy,
        CAST(sum(CAST(x AS DECIMAL(19,9)) * y) AS DECIMAL(38,15)) AS sxy,
        CAST(sum(CAST(x AS DECIMAL(19,9)) * x) AS DECIMAL(38,18)) AS sxx,
        CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DECIMAL(38,12)) AS syy
      FROM st GROUP BY 1),
d AS (SELECT event_type, n,
        CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      FROM a),
f AS (SELECT event_type, n,
        nd * sxxd - sxd * sxd AS den_x, nd * syyd - syd * syd AS den_y,
        nd * sxyd - sxd * syd AS num, nd, sxd, syd
      FROM d)
SELECT event_type, n,
  round(CASE WHEN n > 1 AND den_x <> 0 THEN num / den_x END, 6) AS slope_per_hour,
  round(CASE WHEN n > 1 AND den_x <> 0 THEN (syd - (num / den_x) * sxd) / nd END, 6) AS intercept,
  round(CASE WHEN n > 1 AND den_x <> 0 AND den_y <> 0
        THEN (num / den_x) * (num / den_x) * den_x / den_y END, 6) AS r2
FROM f"""

    o["events_table_diff"] = """
WITH o AS (SELECT event_id, event_type, value FROM events WHERE event_id % 13 <> 0),
n AS (SELECT event_id, event_type,
        round(CASE WHEN event_type = 'error' THEN value * 2 ELSE value END, 6) AS value
      FROM events WHERE event_id % 17 <> 0),
j AS (SELECT coalesce(o.event_id, n.event_id) AS event_id,
        o.event_id IS NOT NULL AS in_old, n.event_id IS NOT NULL AS in_new,
        o.event_type AS old_event_type, n.event_type AS new_event_type,
        o.value AS old_value, n.value AS new_value
      FROM o FULL OUTER JOIN n ON o.event_id = n.event_id)
SELECT event_id,
  CASE WHEN NOT in_old THEN 'added' WHEN NOT in_new THEN 'removed'
       WHEN (old_event_type IS DISTINCT FROM new_event_type)
         OR (old_value IS DISTINCT FROM new_value) THEN 'changed'
       ELSE 'unchanged' END AS verdict,
  CASE WHEN in_old AND in_new THEN coalesce(array_to_string(list_filter(
         [CASE WHEN old_event_type IS DISTINCT FROM new_event_type THEN 'event_type' END,
          CASE WHEN old_value IS DISTINCT FROM new_value THEN 'value' END],
         x -> x IS NOT NULL), ','), '')
       ELSE '' END AS changed_cols,
  old_event_type, new_event_type, old_value, new_value
FROM j"""

    # DISTINCT mirrors the operators' duplicate-submission collapse
    _votes_sql = (
        "SELECT DISTINCT event_id % 500 AS item_id, user_id AS rater,"
        " event_type AS label FROM events"
    )
    o["label_majority_vote"] = f"""
WITH v AS ({_votes_sql}),
c AS (SELECT item_id, label, count(*) AS c FROM v GROUP BY 1, 2),
r AS (SELECT item_id, label, c,
        row_number() OVER (PARTITION BY item_id ORDER BY c DESC, label) AS rn,
        sum(c) OVER (PARTITION BY item_id) AS n,
        sum(c * (c - 1)) OVER (PARTITION BY item_id) AS ap
      FROM c)
SELECT item_id, label AS majority_label, CAST(c AS BIGINT) AS support,
       CAST(n AS BIGINT) AS n_raters,
       CASE WHEN n > 1 THEN round(ap / CAST(n * (n - 1) AS DOUBLE), 6) END AS agreement
FROM r WHERE rn = 1"""

    o["label_fleiss_kappa"] = f"""
WITH v AS ({_votes_sql}),
c AS (SELECT item_id, label, count(*) AS c FROM v GROUP BY 1, 2),
pi AS (SELECT item_id, sum(c) AS n, sum(c * (c - 1)) AS ap FROM c GROUP BY 1),
obs AS (SELECT CAST(count(*) AS BIGINT) AS n_items, CAST(sum(n) AS BIGINT) AS n_votes,
          CAST(sum(ap) AS BIGINT) AS agree, CAST(sum(n * (n - 1)) AS BIGINT) AS pairs
        FROM pi),
m AS (SELECT label, sum(c) AS lc FROM c GROUP BY 1),
pe AS (SELECT sum(lc * lc) / CAST(sum(lc) * sum(lc) AS DOUBLE) AS pe FROM m)
SELECT n_items, n_votes,
       round(agree / CAST(pairs AS DOUBLE), 6) AS po,
       round(pe, 6) AS pe,
       round((agree / CAST(pairs AS DOUBLE) - pe) / (1.0 - pe), 6) AS kappa
FROM obs, pe"""

    # arrival order = event_id; running event-time max over prior
    # arrivals only (frame ends at 1 PRECEDING), first arrival never late
    o["events_late_profile"] = """
WITH l AS (
  SELECT user_id,
    greatest(coalesce(max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), epoch_us(ts))
             - epoch_us(ts), 0) AS late_us
  FROM events)
SELECT user_id, count(*) AS n,
  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
  round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS late_frac,
  round(max(late_us) / 1e6, 6) AS max_lateness_s,
  round(quantile_cont(late_us, 0.95) / 1e6, 6) AS p95_lateness_s,
  round(max(late_us) / 1e6, 6) AS suggested_watermark_s
FROM l GROUP BY 1"""

    # Two trailing RANGE frames over epoch-µs; RANGE peers (equal ts)
    # are frame-included identically by both engines, so ties are safe.
    o["events_burn_rate"] = """
SELECT user_id, event_id,
  round(avg(CAST(event_type = 'error' AS INT)) OVER wl / 0.1, 6) AS burn_long,
  round(avg(CAST(event_type = 'error' AS INT)) OVER ws / 0.1, 6) AS burn_short,
  (round(avg(CAST(event_type = 'error' AS INT)) OVER wl / 0.1, 6) >= 2.0
   AND round(avg(CAST(event_type = 'error' AS INT)) OVER ws / 0.1, 6) >= 2.0) AS alert
FROM events
WINDOW
  wl AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW),
  ws AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)"""

    # The DP releases re-draw the IDENTICAL seeded Laplace noise: u from
    # the portable 60-bit md5 uniform of (group key || US || 'dp'),
    # noise = -scale*sign(u)*ln(1-2|u|), floored at 1e-18.
    _lap = (
        "(-({scale}) * sign(u) * ln(greatest(1.0 - 2.0 * abs(u), 1e-18)))"
    )
    # coalesce mirrors the operator's NULL-key sentinel (concat_ws skips
    # NULLs in Spark; || propagates them in SQL)
    _u60 = (
        "(CAST('0x' || substr(md5(coalesce(CAST({key} AS VARCHAR), chr(0) || 'null')"
        " || chr(31) || 'dp'), 1, 15) AS BIGINT)"
        " / 1152921504606846976.0 - 0.5)"
    )
    o["dp_event_counts"] = f"""
WITH g AS (SELECT event_type, count(*) AS true_n FROM events GROUP BY 1),
n AS (SELECT event_type, true_n, {_u60.format(key='event_type')} AS u FROM g)
SELECT event_type, round(true_n + {_lap.format(scale='1.0')}, 6) AS noisy_n FROM n"""

    o["dp_event_sums"] = f"""
WITH g AS (
  SELECT event_type,
    CAST(sum(CAST(least(greatest(CAST(value AS DOUBLE), 0.0), 100.0) AS DECIMAL(18,6))) AS DOUBLE) AS true_sum
  FROM events GROUP BY 1),
n AS (SELECT event_type, true_sum, {_u60.format(key='event_type')} AS u FROM g)
SELECT event_type, round(true_sum + {_lap.format(scale='50.0')}, 6) AS noisy_sum FROM n"""

    o["events_rollup_report"] = """
SELECT CAST(GROUPING(event_type, hour) AS BIGINT) AS gid, event_type, hour,
       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM (SELECT event_type, date_trunc('hour', ts) AS hour, value FROM events)
GROUP BY ROLLUP (event_type, hour)"""

    # incremental refresh must equal the FULL recompute — that equality IS
    # the materialized-view maintenance contract under test.
    o["events_count_incremental"] = """
SELECT event_type, count(*) AS log_count,
       min(epoch_us(ts)) AS first_us, max(value) AS max_value
FROM events GROUP BY 1"""

    o["events_sum_by_type"] = (
        "SELECT event_type, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total"
        " FROM events GROUP BY 1"
    )

    o["k8s_attrs_enrich"] = """
WITH f AS (
  SELECT event_id,
    CASE WHEN event_id % 5 != 0 THEN 'uid-' || CAST(event_id % 40 AS VARCHAR) END AS k8s_pod_uid_attr,
    CASE WHEN event_id % 3 != 0 THEN '10.0.0.' || CAST(event_id % 30 AS VARCHAR) END AS k8s_pod_ip
  FROM events
),
d AS (
  SELECT 'uid-' || CAST(i AS VARCHAR) AS pod_uid,
         '10.0.0.' || CAST(i AS VARCHAR) AS pod_ip,
         'ns-' || CAST(i % 4 AS VARCHAR) AS ns,
         'pod-' || CAST(i AS VARCHAR) AS pn,
         'node-' || CAST(i % 3 AS VARCHAR) AS nd
  FROM range(30) r(i)
),
ruled AS (
  SELECT f.*,
    CASE WHEN k8s_pod_uid_attr IS NOT NULL AND k8s_pod_uid_attr != '' THEN 0
         WHEN k8s_pod_ip IS NOT NULL AND k8s_pod_ip != '' THEN 1 END AS rule
  FROM f
)
SELECT r.event_id, r.k8s_pod_uid_attr, r.k8s_pod_ip,
  coalesce(d0.ns, d1.ns) AS k8s_namespace_name,
  coalesce(d0.pn, d1.pn) AS k8s_pod_name,
  coalesce(d0.nd, d1.nd) AS k8s_node_name
FROM ruled r
LEFT JOIN d d0 ON r.rule = 0 AND r.k8s_pod_uid_attr = d0.pod_uid
LEFT JOIN d d1 ON r.rule = 1 AND r.k8s_pod_ip = d1.pod_ip"""

    from .transcript_sql import T2_TRANSCRIPTS as _T2W

    _wait_us = 60 * 1_000_000
    o["groupbytrace_waited_release"] = f"""
WITH RECURSIVE t AS (
  SELECT conv_id, turn_idx, text, CAST(epoch_us(ts) AS BIGINT) AS ts_us
  FROM read_parquet('{_T2W}')
),
starts AS (
  SELECT conv_id, min(ts_us) AS start_us FROM t GROUP BY conv_id
  UNION ALL
  SELECT s.conv_id,
         (SELECT min(ts_us) FROM t
           WHERE t.conv_id = s.conv_id AND t.ts_us >= s.start_us + {_wait_us}) AS start_us
  FROM starts s
  WHERE EXISTS (SELECT 1 FROM t
                 WHERE t.conv_id = s.conv_id AND t.ts_us >= s.start_us + {_wait_us})
),
assigned AS (
  SELECT t.conv_id, t.turn_idx, t.text, t.ts_us,
         (SELECT max(start_us) FROM starts st
           WHERE st.conv_id = t.conv_id AND st.start_us <= t.ts_us) AS start_us
  FROM t
)
SELECT conv_id,
       start_us + {_wait_us} AS release_us,
       count(*) AS n_turns,
       string_agg(text, chr(10) ORDER BY ts_us, turn_idx) AS transcript,
       min(ts_us) AS first_ts_us,
       max(ts_us) AS last_ts_us
FROM assigned
GROUP BY conv_id, start_us"""

    o["events_logdedup"] = f"""
SELECT {win60} AS window_start, event_type, count(*) AS log_count,
       min(epoch_us(ts)) AS first_observed_us, max(epoch_us(ts)) AS last_observed_us
FROM events GROUP BY 1, 2"""

    o["events_interval_last"] = f"""
WITH w AS (SELECT *, {win3600} AS window_start FROM events),
r AS (SELECT window_start, user_id, value,
             row_number() OVER (PARTITION BY window_start, user_id
                                ORDER BY ts DESC, value DESC) AS rn
      FROM w),
mx AS (SELECT window_start, user_id, max(value) AS max_value FROM w GROUP BY 1, 2)
SELECT r.window_start, r.user_id, r.value AS last_value, mx.max_value
FROM r JOIN mx USING (window_start, user_id) WHERE rn = 1"""

    o["events_cumulative"] = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumulative
FROM events"""

    o["events_delta"] = """
SELECT event_id, user_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
FROM events"""

    o["events_rate"] = """
WITH l AS (SELECT event_id, user_id, value, ts,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events)
SELECT event_id, user_id,
       round(CASE WHEN CAST(floor(epoch_us(ts)/1000000) AS BIGINT)
                       - CAST(floor(epoch_us(prev_ts)/1000000) AS BIGINT) > 0
                  THEN value / (CAST(floor(epoch_us(ts)/1000000) AS BIGINT)
                                - CAST(floor(epoch_us(prev_ts)/1000000) AS BIGINT))
             END, 6) AS rate
FROM l"""

    o["events_histogram"] = """
SELECT event_type,
       CASE WHEN value <= 1 THEN 1.0 WHEN value <= 5 THEN 5.0
            WHEN value <= 10 THEN 10.0 WHEN value <= 50 THEN 50.0
            WHEN value <= 100 THEN 100.0 ELSE CAST('infinity' AS DOUBLE) END AS le,
       count(*) AS bucket_count
FROM events GROUP BY 1, 2"""

    # direct recomputation at the coarse bounds — merge∘rebucket must equal it
    o["events_histogram_rebucket"] = """
SELECT event_type, count(value) AS h_count,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS h_sum,
       concat_ws(',',
         CAST(sum(CASE WHEN value <= 5 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 5 AND value <= 50 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS VARCHAR)) AS buckets_csv
FROM events GROUP BY 1"""

    # same integer synthesis + downscale/align/add math as the Spark path
    o["events_exp_histogram_merge"] = """
WITH cell AS (
  SELECT event_type,
         CAST(2 + (user_id % 3) % 2 AS INTEGER) AS scale,
         sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS zero_count,
         count(*) AS h_count,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS h_sum,
         CAST((user_id % 3) * 3 - 2 AS INTEGER) AS off,
         [sum(CASE WHEN event_id % 6 = 0 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 1 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 2 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 3 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 4 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 6 = 5 THEN 1 ELSE 0 END)] AS counts
  FROM events GROUP BY event_type, user_id % 3),
tgt AS (SELECT event_type, min(scale) AS tscale FROM cell GROUP BY 1),
expl AS (
  SELECT c.event_type, t.tscale,
         CAST(floor((c.off + g.pos) / pow(2, c.scale - t.tscale)) AS INTEGER) AS idx,
         c.counts[g.pos + 1] AS cnt
  FROM cell c
  JOIN tgt t USING (event_type)
  CROSS JOIN (SELECT unnest(range(0, 6)) AS pos) g),
peridx AS (SELECT event_type, idx, sum(cnt) AS cnt FROM expl GROUP BY 1, 2),
span AS (SELECT event_type, min(idx) AS lo, max(idx) AS hi FROM peridx GROUP BY 1),
grid AS (SELECT event_type, lo, unnest(range(lo, hi + 1)) AS i FROM span),
filled AS (
  SELECT g.event_type, g.lo, g.i, coalesce(p.cnt, 0) AS cnt
  FROM grid g LEFT JOIN peridx p ON p.event_type = g.event_type AND p.idx = g.i),
tot AS (
  SELECT event_type,
         CAST(sum(zero_count) AS BIGINT) AS zero_count,
         CAST(sum(h_count) AS BIGINT) AS h_count,
         CAST(sum(CAST(h_sum AS DECIMAL(18,6))) AS DOUBLE) AS h_sum
  FROM cell GROUP BY 1)
SELECT f.event_type, t.tscale AS scale, z.zero_count, z.h_count, z.h_sum,
       CAST(f.lo AS INTEGER) AS offset,
       string_agg(CAST(f.cnt AS VARCHAR), ',' ORDER BY f.i) AS buckets_csv
FROM filled f
JOIN tgt t USING (event_type)
JOIN tot z USING (event_type)
GROUP BY 1, 2, 3, 4, 5, 6"""

    # same integer synthesis; cumulative = windowed sums over the
    # series-rebased buckets (mirrors exp_histogram_delta_to_cumulative)
    o["events_exp_histogram_cumulative"] = """
WITH base AS (
  SELECT event_type, CAST(floor(epoch_us(ts) / (3600 * CAST(1000000 AS BIGINT))) AS BIGINT) AS h,
         event_id, value
  FROM events),
dp AS (
  SELECT event_type, h,
         CAST(2 + h % 2 AS INTEGER) AS scale,
         CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
         count(*) AS h_count,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS h_sum,
         CAST((h % 3) * 2 - 1 AS INTEGER) AS off,
         [sum(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 4 = 1 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 4 = 2 THEN 1 ELSE 0 END),
          sum(CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END)] AS counts
  FROM base GROUP BY event_type, h),
scaled AS (
  SELECT d.*, t.tscale, pow(2, d.scale - t.tscale) AS twod
  FROM dp d JOIN (SELECT event_type, min(scale) AS tscale FROM dp GROUP BY 1) t USING (event_type)),
span AS (
  SELECT event_type,
         min(CAST(floor(off / twod) AS INTEGER)) AS lo,
         max(CAST(floor((off + 3) / twod) AS INTEGER)) AS hi
  FROM scaled GROUP BY 1),
expl AS (
  SELECT s.event_type, s.h, CAST(floor((s.off + g.pos) / s.twod) AS INTEGER) AS idx,
         s.counts[g.pos + 1] AS cnt
  FROM scaled s CROSS JOIN (SELECT unnest(range(0, 4)) AS pos) g),
delta AS (SELECT event_type, h, idx, sum(cnt) AS cnt FROM expl GROUP BY 1, 2, 3),
grid AS (
  SELECT s.event_type, d.h, sp.i
  FROM span s
  JOIN (SELECT DISTINCT event_type, h FROM dp) d USING (event_type)
  CROSS JOIN LATERAL (SELECT unnest(range(s.lo, s.hi + 1)) AS i) sp),
cumbkt AS (
  SELECT g.event_type, g.h, g.i,
         sum(coalesce(d.cnt, 0)) OVER (PARTITION BY g.event_type, g.i ORDER BY g.h) AS cum
  FROM grid g LEFT JOIN delta d ON d.event_type = g.event_type AND d.h = g.h AND d.idx = g.i),
scalars AS (
  SELECT event_type, h,
         CAST(sum(zero_count) OVER w AS BIGINT) AS zero_count,
         CAST(sum(h_count) OVER w AS BIGINT) AS h_count,
         CAST(sum(CAST(h_sum AS DECIMAL(18,6))) OVER w AS DOUBLE) AS h_sum
  FROM dp WINDOW w AS (PARTITION BY event_type ORDER BY h))
SELECT c.event_type, c.h, t.tscale AS scale, s.zero_count, s.h_count, s.h_sum,
       CAST(sp.lo AS INTEGER) AS offset,
       string_agg(CAST(c.cum AS VARCHAR), ',' ORDER BY c.i) AS buckets_csv
FROM cumbkt c
JOIN (SELECT event_type, min(scale) AS tscale FROM dp GROUP BY 1) t USING (event_type)
JOIN span sp USING (event_type)
JOIN scalars s ON s.event_type = c.event_type AND s.h = c.h
GROUP BY 1, 2, 3, 4, 5, 6, 7"""

    # two closed-form rows per event: the server parent and client child
    o["zipkin_json_spans"] = """
SELECT event_id,
  't' || CAST(event_id AS VARCHAR) AS trace_id,
  CASE WHEN s = 0 THEN 's1' ELSE 's2' END AS span_id,
  CASE WHEN s = 0 THEN NULL ELSE 's1' END AS parent_span_id,
  CASE WHEN s = 0 THEN event_type ELSE event_type || '_call' END AS span_name,
  CASE WHEN s = 0 THEN 'SERVER' ELSE 'CLIENT' END AS span_kind,
  epoch_us(ts) AS ts_us,
  CAST(CASE WHEN s = 0 THEN 1000 ELSE 500 END AS BIGINT) AS duration_us,
  CASE WHEN s = 0 THEN 'api' ELSE NULL END AS service_name,
  CASE WHEN s = 0 THEN 'env=prod,user=u' || CAST(user_id % 7 AS VARCHAR) ELSE NULL END AS tags_csv
FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS s) g"""

    o["loki_json_push"] = """
SELECT event_id,
  'host=h' || CAST(user_id % 4 AS VARCHAR) || ',job=' || event_type AS labels_csv,
  epoch_us(ts) AS line_ts_us,
  CASE WHEN s = 0 THEN 'line one for ' || event_type ELSE 'line two' END AS line
FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS s) g"""

    # wire-format line parsers: closed-form from the same synthesis
    o["parse_statsd_lines"] = """
SELECT event_id,
  CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS st_name,
  CASE WHEN event_id % 10 = 0 THEN NULL
       ELSE CAST(CAST(floor(value * 100) AS BIGINT) AS DOUBLE) END AS st_value,
  CASE WHEN event_id % 10 = 0 THEN NULL ELSE 'ms' END AS st_type,
  CASE WHEN event_id % 10 = 0 THEN NULL ELSE CAST(0.5 AS DOUBLE) END AS st_rate,
  CASE WHEN event_id % 10 = 0 THEN NULL
       ELSE 'env:prod,user:' || CAST(user_id % 10 AS VARCHAR) END AS st_tags_csv
FROM events"""

    o["parse_influx_lines"] = """
SELECT event_id, event_type AS il_measurement,
  'dc=west,host=h' || CAST(user_id % 5 AS VARCHAR) AS il_tags_csv,
  'value=' || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) || 'i' AS il_fields_csv,
  epoch_us(ts) AS il_ts_us
FROM events"""

    o["parse_prometheus_lines"] = """
SELECT event_id, event_type || '_total' AS pm_name,
  'code=' || CAST(event_id % 3 AS VARCHAR) || ',method=get' AS pm_labels_csv,
  CAST(CAST(floor(value * 100) AS BIGINT) AS DOUBLE) AS pm_value,
  CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS pm_ts_ms
FROM events"""

    o["otlp_pb_logs"] = """
WITH x AS (SELECT e.*, s.i,
                  (1700000000 + event_id % 86400) * 1000000
                    + (event_id % 1000) * 1000 AS base_us
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
SELECT event_id,
  base_us + i * 1000 AS ol_ts_us,
  CAST(CASE WHEN i = 0 THEN 9 ELSE 17 END AS INTEGER) AS ol_severity_number,
  CASE WHEN i = 0 THEN 'INFO' ELSE 'ERROR' END AS ol_severity_text,
  CASE WHEN i = 0 THEN 'started job ' || CAST(event_id AS VARCHAR)
       ELSE '{code=' || CAST(event_id % 7 AS VARCHAR)
            || ',fatal=' || (CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END)
            || ',msg=fail ' || CAST(event_id AS VARCHAR) || '}' END AS ol_body,
  CASE WHEN i = 0 THEN 'etype=' || event_type ELSE 'ratio=0.5,retry=true' END AS ol_attrs_csv,
  CASE WHEN i = 0 THEN printf('%032x', event_id) END AS ol_trace_id,
  CASE WHEN i = 0 THEN printf('%016x', event_id % 65536) END AS ol_span_id,
  'lib' AS ol_scope,
  'service.name=svc-' || CAST(event_id % 4 AS VARCHAR) AS ol_resource_csv
FROM x"""

    o["prom_remote_write_parse"] = """
WITH x AS (SELECT e.*, s.i, (1700000000 + event_id % 86400) * 1000 AS ms
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
SELECT event_id,
  event_type || '_total' AS rw_name,
  'instance=i' || CAST(event_id % 5 AS VARCHAR)
    || ',job=j' || CAST(event_id % 3 AS VARCHAR) AS rw_labels_csv,
  ms + i * 15000 AS rw_ts_ms,
  CASE WHEN i = 0 THEN value ELSE value + 1.0 END AS rw_value
FROM x"""

    o["netflow_v5_parse"] = """
WITH x AS (SELECT e.*, s.r, (1700000000 + event_id % 86400) * 1000 AS ms
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS r) s)
SELECT event_id,
  'netflow_v5' AS nf_type,
  '10.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR)
    || '.' || CAST(r + 1 AS VARCHAR) AS nf_src_addr,
  CAST(1024 + event_id % 1000 AS INTEGER) AS nf_src_port,
  '192.168.' || CAST(event_id % 256 AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR)
    AS nf_dst_addr,
  CAST(CASE WHEN r = 0 THEN 443 ELSE 53 END AS INTEGER) AS nf_dst_port,
  CASE WHEN r = 0 THEN 'tcp' ELSE 'udp' END AS nf_transport,
  (event_id * 37 + r * 1000) % 100000 + 40 AS nf_bytes,
  event_id % 100 + 1 AS nf_packets,
  event_id * 2 AS nf_sequence_num,
  CAST(CASE WHEN r = 0 THEN 27 ELSE 0 END AS INTEGER) AS nf_tcp_flags,
  user_id % 64512 AS nf_src_as,
  (user_id * 7) % 64512 AS nf_dst_as,
  '10.0.0.254' AS nf_next_hop,
  event_id % 8 AS nf_in_if,
  (event_id + 1) % 8 AS nf_out_if,
  ms - 10000 - (event_id % 1000) AS nf_start_ms,
  ms - (event_id % 1000) AS nf_end_ms
FROM x"""

    o["ipfix_parse"] = """
WITH x AS (SELECT e.*, s.r, (1700000000 + event_id % 86400) * 1000 AS ms
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS r) s)
SELECT event_id,
  'ipfix' AS nf_type,
  'ipv4' AS nf_etype,
  '172.16.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(r + 1 AS VARCHAR)
    AS nf_src_addr,
  CAST(2048 + event_id % 500 AS INTEGER) AS nf_src_port,
  '10.0.' || CAST(event_id % 256 AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR)
    AS nf_dst_addr,
  CAST(CASE WHEN r = 0 THEN 8080 ELSE 9092 END AS INTEGER) AS nf_dst_port,
  CASE WHEN r = 0 THEN 'tcp' ELSE 'sctp' END AS nf_transport,
  (event_id * 53 + r * 7) % 1000000 + 64 AS nf_bytes,
  event_id % 1000 + 1 AS nf_packets,
  user_id % 4096 AS nf_src_as,
  (user_id * 3) % 4096 AS nf_dst_as,
  ms - 5000 - r AS nf_start_ms,
  ms - r AS nf_end_ms,
  event_id AS nf_sequence_num
FROM x"""

    # cross-packet rule: a packet decodes iff it carries the template
    # itself (event_id%100=0) or its observation domain (user_id%4) has
    # at least one template-bearing packet in the spool
    o["ipfix_cross_packet_templates"] = """
WITH x AS (SELECT e.*, s.r FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS r) s
           WHERE e.event_id % 100 = 0
              OR e.user_id % 4 IN (SELECT DISTINCT user_id % 4 FROM events
                                   WHERE event_id % 100 = 0))
SELECT event_id,
  'ipfix' AS nf_type,
  '172.16.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(r + 1 AS VARCHAR)
    AS nf_src_addr,
  CAST(2048 + event_id % 500 AS INTEGER) AS nf_src_port,
  '10.0.' || CAST(event_id % 256 AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR)
    AS nf_dst_addr,
  CAST(CASE WHEN r = 0 THEN 8080 ELSE 9092 END AS INTEGER) AS nf_dst_port,
  CASE WHEN r = 0 THEN 'tcp' ELSE 'sctp' END AS nf_transport,
  (event_id * 53 + r * 7) % 1000000 + 64 AS nf_bytes,
  event_id AS nf_sequence_num
FROM x"""

    # v9 rebase check: boot_ms = secs*1000 − uptime, start = boot +
    # (uptime − 5000 − r) — uptime cancels, so the oracle needs only secs
    o["netflow_v9_parse"] = """
WITH x AS (SELECT e.*, s.r, (1700000000 + event_id % 86400) * 1000 AS ms
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS r) s)
SELECT event_id,
  'netflow_v9' AS nf_type,
  '172.16.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(r + 1 AS VARCHAR)
    AS nf_src_addr,
  CAST(2048 + event_id % 500 AS INTEGER) AS nf_src_port,
  '10.0.' || CAST(event_id % 256 AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR)
    AS nf_dst_addr,
  CAST(CASE WHEN r = 0 THEN 8080 ELSE 9092 END AS INTEGER) AS nf_dst_port,
  CASE WHEN r = 0 THEN 'tcp' ELSE 'udp' END AS nf_transport,
  (event_id * 53 + r * 7) % 1000000 + 64 AS nf_bytes,
  event_id % 1000 + 1 AS nf_packets,
  ms - 5000 - r AS nf_start_ms,
  ms - r AS nf_end_ms,
  event_id AS nf_sequence_num,
  (user_id % 4 + 1) * 64 AS nf_sampling_rate
FROM x"""

    o["envoy_als_entries"] = """
WITH e AS (SELECT *, event_id AS i, user_id AS u,
  (1700000000 + event_id % 86400) * 1000000 + (event_id % 1000) * 1000 AS us
FROM events),
x AS (SELECT e.*, s.k FROM e CROSS JOIN (SELECT unnest(['http', 'tcp']) AS k) s)
SELECT event_id,
  k AS ea_type,
  'als-' || CAST(u % 3 AS VARCHAR) AS ea_log_name,
  us AS ea_start_us,
  CASE WHEN k = 'http' THEN (i % 500 + 1) * 1000 ELSE 0 END AS ea_duration_us,
  CASE WHEN k = 'http' THEN CASE WHEN i % 2 = 0 THEN 'HTTP3' ELSE 'HTTP2' END END AS ea_protocol,
  CASE WHEN k = 'http' THEN CASE WHEN i % 4 = 0 THEN 'POST' ELSE 'GET' END END AS ea_method,
  CASE WHEN k = 'http' THEN 'https' END AS ea_scheme,
  CASE WHEN k = 'http' THEN 'svc-' || CAST(u % 5 AS VARCHAR) || '.internal' END AS ea_authority,
  CASE WHEN k = 'http' THEN '/api/v' || CAST(i % 3 AS VARCHAR) || '/items/' || CAST(i % 100 AS VARCHAR) END AS ea_path,
  CASE WHEN k = 'http' THEN 'client/' || CAST(u % 7 AS VARCHAR) END AS ea_user_agent,
  CASE WHEN k = 'http' THEN 'req-' || CAST(i AS VARCHAR) END AS ea_request_id,
  '10.' || CAST(u % 256 AS VARCHAR) || '.' || CAST(i % 256 AS VARCHAR) || '.9' AS ea_down_addr,
  CAST(40000 + i % 1000 AS INTEGER) AS ea_down_port,
  'cl-' || CAST(u % 4 AS VARCHAR) AS ea_upstream_cluster,
  CASE WHEN k = 'http' THEN 'route-' || CAST(i % 6 AS VARCHAR) END AS ea_route_name,
  CASE WHEN k = 'http' THEN (i * 17) % 4000 ELSE 0 END AS ea_req_body_bytes,
  CAST(CASE WHEN k = 'http' THEN CASE WHEN i % 10 = 0 THEN 503 ELSE 200 END ELSE 0 END AS INTEGER) AS ea_resp_code,
  CASE WHEN k = 'http' THEN (i * 31) % 100000 ELSE 0 END AS ea_resp_body_bytes,
  CASE WHEN k = 'tcp' THEN (i * 7) % 50000 ELSE 0 END AS ea_rx_bytes,
  CASE WHEN k = 'tcp' THEN (i * 11) % 50000 ELSE 0 END AS ea_tx_bytes
FROM x"""

    o["webhook_split_events"] = """
WITH e AS (SELECT *, event_id AS i FROM events),
parts AS (
  SELECT i, event_id, user_id, event_type,
         CASE WHEN i % 3 != 0 THEN 2 ELSE 1 END AS n
  FROM e
),
x AS (SELECT p.*, s.r FROM parts p CROSS JOIN (SELECT unnest([1, 2]) AS r) s WHERE s.r <= p.n)
SELECT event_id,
  CASE WHEN i % 3 = 0 THEN 'plain text ' || CAST(i AS VARCHAR)
       WHEN r = 1 THEN '{"a":' || CAST(i AS VARCHAR) || '}'
       ELSE '{"b":"' || event_type || '"}' END AS wh_body,
  'header.X-Keep=[v1|u' || CAST(user_id % 7 AS VARCHAR) || ']' AS wh_headers_csv,
  'qid=' || CAST(i % 9 AS VARCHAR) || ',src=hook' AS wh_resource_csv
FROM x"""

    o["osquery_result_logs"] = """
WITH x AS (SELECT e.*, s.r FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS r) s)
SELECT event_id,
  'select * from processes where uid = ' || CAST(event_id % 10 AS VARCHAR) AS os_body,
  CASE WHEN r = 0
       THEN 'name=' || event_type || ',pid=' || CAST(event_id % 30000 AS VARCHAR)
       ELSE 'name=helper,pid=' || CAST(event_id % 30000 + 1 AS VARCHAR) END AS os_attrs_csv
FROM x"""

    o["macos_unified_logs"] = """
WITH e AS (SELECT *, event_id AS i FROM events WHERE event_id % 10 != 0),
x AS (SELECT e.*,
  ['Error','Fault','Default','Info','Debug'][CAST(i % 5 AS INTEGER) + 1] AS mtype,
  '2023-10-12 08:15:' || lpad(CAST(i % 60 AS VARCHAR), 2, '0') || '.123456-0700' AS tstr
FROM e)
SELECT event_id,
  '{"timestamp":"' || tstr || '","messageType":"' || mtype
    || '","eventMessage":"ev ' || event_type || '"}' AS ml_body,
  epoch_us(strptime(tstr, '%Y-%m-%d %H:%M:%S.%f%z')) AS ml_ts_us,
  mtype AS ml_severity_text,
  CAST(CASE mtype WHEN 'Error' THEN 17 WHEN 'Fault' THEN 21 WHEN 'Default' THEN 9
                  WHEN 'Info' THEN 9 WHEN 'Debug' THEN 5 ELSE 0 END AS INTEGER)
    AS ml_severity_num
FROM x"""

    o["windows_event_parse"] = """
WITH e AS (SELECT *, event_id AS i, user_id AS u FROM events),
x AS (SELECT e.*,
  CASE WHEN i % 2 = 0 THEN ['Information','Error','Warning','Critical'][CAST(u % 4 AS INTEGER) + 1] END AS rlevel
FROM e)
SELECT event_id,
  i % 4096 + 1000 AS we_id,
  CASE WHEN i % 3 = 0 THEN CAST(16384 AS BIGINT) END AS we_qualifiers,
  'Prov-' || CAST(u % 5 AS VARCHAR) AS we_provider,
  '{0000-' || CAST(u % 5 AS VARCHAR) || '}' AS we_provider_guid,
  'host-' || CAST(u % 10 AS VARCHAR) AS we_computer,
  CASE WHEN i % 7 = 0 THEN 'Security' ELSE 'Application' END AS we_channel,
  i + 100000 AS we_record_id,
  strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS we_system_time,
  epoch_us(ts) AS we_ts_us,
  CASE WHEN i % 2 = 0 THEN rlevel ELSE CAST(i % 6 AS VARCHAR) END AS we_level,
  CASE WHEN i % 2 = 0 THEN 'T' || CAST(i % 20 AS VARCHAR) ELSE CAST(i % 20 AS VARCHAR) END AS we_task,
  CASE WHEN i % 2 = 0 THEN 'Op' ELSE CAST(i % 4 AS VARCHAR) END AS we_opcode,
  CASE WHEN i % 2 = 0
       THEN 'Audit Success' || CASE WHEN u % 2 = 0 THEN ',KW2' ELSE '' END
       ELSE '0x8020000000000000' END AS we_keywords_csv,
  CASE WHEN i % 2 = 0 THEN
    CASE rlevel WHEN 'Critical' THEN 'FATAL' WHEN 'Error' THEN 'ERROR'
                WHEN 'Warning' THEN 'WARN' WHEN 'Information' THEN 'INFO'
                ELSE 'DEFAULT' END
  ELSE
    CASE CAST(i % 6 AS VARCHAR) WHEN '1' THEN 'FATAL' WHEN '2' THEN 'ERROR'
                                WHEN '3' THEN 'WARN' WHEN '4' THEN 'INFO'
                                ELSE 'DEFAULT' END
  END AS we_severity,
  CAST(CASE
    CASE WHEN i % 2 = 0 THEN
      CASE rlevel WHEN 'Critical' THEN 'FATAL' WHEN 'Error' THEN 'ERROR'
                  WHEN 'Warning' THEN 'WARN' WHEN 'Information' THEN 'INFO'
                  ELSE 'DEFAULT' END
    ELSE
      CASE CAST(i % 6 AS VARCHAR) WHEN '1' THEN 'FATAL' WHEN '2' THEN 'ERROR'
                                  WHEN '3' THEN 'WARN' WHEN '4' THEN 'INFO'
                                  ELSE 'DEFAULT' END
    END
    WHEN 'FATAL' THEN 21 WHEN 'ERROR' THEN 17 WHEN 'WARN' THEN 13
    WHEN 'INFO' THEN 9 ELSE 0 END AS INTEGER) AS we_severity_num,
  CASE WHEN i % 2 = 0 THEN 'msg ' || event_type END AS we_message,
  'k1=' || event_type || ',k2=' || CAST(i % 50 AS VARCHAR)
    || CASE WHEN i % 3 = 0 THEN ',param1=anon-' || CAST(i AS VARCHAR) ELSE '' END
    AS we_event_data_csv,
  CASE WHEN i % 7 = 0 THEN 'S-1-5-' || CAST(u AS VARCHAR) END AS we_user_id,
  CASE WHEN u % 5 != 0 THEN u + 100 END AS we_pid,
  CASE WHEN u % 5 != 0 THEN u + 200 END AS we_tid,
  CAST(i % 3 AS INTEGER) AS we_version
FROM x"""

    o["sflow_parse"] = """
WITH x AS (SELECT e.*, s.r FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS r) s)
SELECT event_id,
  'sflow_5' AS nf_type,
  '10.1.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(r + 1 AS VARCHAR) AS nf_src_addr,
  CAST(3000 + event_id % 2000 AS INTEGER) AS nf_src_port,
  '10.2.' || CAST(event_id % 256 AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR)
    AS nf_dst_addr,
  CAST(CASE WHEN r = 0 THEN 8443 ELSE 514 END AS INTEGER) AS nf_dst_port,
  CASE WHEN r = 0 THEN 'tcp' ELSE 'udp' END AS nf_transport,
  'ipv4' AS nf_etype,
  64 + (event_id * 13 + r) % 1400 AS nf_bytes,
  CAST(1 AS BIGINT) AS nf_packets,
  event_id AS nf_sequence_num,
  CAST(CASE WHEN r = 0 THEN 64 ELSE 128 END AS BIGINT) AS nf_sampling_rate,
  CAST(CASE WHEN r = 0 THEN 24 ELSE 0 END AS INTEGER) AS nf_tcp_flags,
  event_id % 16 AS nf_in_if,
  (event_id + 3) % 16 AS nf_out_if
FROM x"""

    o["signalfx_pb_parse"] = """
WITH x AS (SELECT e.*, s.i, (1700000000 + event_id % 86400) * 1000 AS ms
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
SELECT event_id,
  event_type || CASE WHEN i = 0 THEN '.gauge' ELSE '.calls' END AS sfx_metric,
  CASE WHEN i = 0 THEN 'GAUGE' ELSE 'CUMULATIVE_COUNTER' END AS sfx_type,
  CASE WHEN i = 0 THEN 's' || CAST(user_id % 4 AS VARCHAR) END AS sfx_source,
  ms AS sfx_ts_ms,
  CASE WHEN i = 0 THEN value ELSE CAST(event_id % 1000 AS DOUBLE) END AS sfx_value,
  i = 1 AS sfx_is_int,
  'dc=dc' || CAST(user_id % 3 AS VARCHAR) || ',host=h' || CAST(user_id % 5 AS VARCHAR)
    AS sfx_dims_csv
FROM x"""

    o["splunk_hec_roundtrip"] = """
WITH e AS (SELECT *, epoch_us(ts) + (event_id % 1000) * 1000 AS us FROM events)
SELECT event_id,
  (us // 1000) * 1000 AS hec_ts_us,
  'h' || CAST(user_id % 5 AS VARCHAR) AS hec_host,
  'events' AS hec_source,
  event_type AS hec_sourcetype,
  CASE WHEN event_id % 4 != 0 THEN 'main' END AS hec_index,
  props AS hec_event_body,
  CAST(NULL AS VARCHAR) AS hec_fields_csv
FROM e"""

    o["gcp_log_entry_parse"] = """
WITH e AS (SELECT *, epoch_us(ts) // 1000000 * 1000000 AS sec_us FROM events)
SELECT event_id,
  sec_us AS gl_ts_us,
  'i' || CAST(event_id AS VARCHAR) AS gl_insert_id,
  'projects/p/logs/app' AS gl_log_name,
  CASE WHEN event_id % 4 = 0 THEN 'ERROR' ELSE 'INFO' END AS gl_severity,
  CASE WHEN event_id % 3 = 0
       THEN '{"k":' || CAST(event_id % 50 AS VARCHAR) || ',"type":"' || event_type || '"}'
       ELSE 'msg ' || event_type END AS gl_body,
  event_id % 3 != 0 AS gl_is_text,
  'projects/p/traces/t' || CAST(user_id % 30 AS VARCHAR) AS gl_trace,
  's' || CAST(event_id AS VARCHAR) AS gl_span_id,
  event_id % 2 = 0 AS gl_trace_sampled,
  'app=a' || CAST(event_id % 5 AS VARCHAR) || ',env=prod' AS gl_labels_csv,
  'gce_instance' AS gl_resource_type,
  'zone=us-east1-b' AS gl_resource_labels_csv
FROM e"""

    o["waf_log_parse"] = """
WITH e AS (SELECT *, event_id % 9 = 0 AS bad FROM events)
SELECT event_id,
  CASE WHEN bad THEN NULL
       ELSE CAST(floor(epoch_us(ts) / 1000) AS BIGINT) END AS waf_ts_ms,
  CASE WHEN bad THEN NULL ELSE 'acl-' || CAST(event_id % 4 AS VARCHAR) END AS waf_acl_id,
  CASE WHEN bad THEN NULL ELSE 'rule-' || CAST(event_id % 6 AS VARCHAR) END AS waf_rule_id,
  CASE WHEN bad THEN NULL ELSE 'REGULAR' END AS waf_rule_type,
  CASE WHEN bad THEN NULL
       WHEN event_id % 5 = 0 THEN 'BLOCK' ELSE 'ALLOW' END AS waf_action,
  CASE WHEN bad THEN NULL
       ELSE '1.2.3.' || CAST(event_id % 255 AS VARCHAR) END AS waf_client_ip,
  CASE WHEN bad THEN NULL ELSE 'US' END AS waf_country,
  CASE WHEN bad THEN NULL ELSE 'GET' END AS waf_method,
  CASE WHEN bad THEN NULL ELSE '/p' || CAST(event_id % 9 AS VARCHAR) END AS waf_uri,
  CASE WHEN bad THEN NULL ELSE 'q=1' END AS waf_args,
  CASE WHEN bad THEN NULL
       ELSE 'Agent=curl,Host=h' || CAST(user_id % 5 AS VARCHAR) END AS waf_headers_csv,
  CASE WHEN bad OR event_id % 5 != 0 THEN NULL
       ELSE CAST(403 AS BIGINT) END AS waf_response_code,
  CAST(NULL AS VARCHAR) AS waf_ja3
FROM e"""

    o["network_firewall_parse"] = """
WITH e AS (SELECT *, epoch_us(ts) // 1000000 AS secs FROM events)
SELECT event_id,
  'fw-' || CAST(user_id % 3 AS VARCHAR) AS nf_firewall,
  'us-east-1a' AS nf_az,
  secs * 1000000 AS nf_ts_us,
  CASE WHEN event_id % 2 = 0 THEN 'netflow' ELSE 'alert' END AS nf_event_type,
  event_id AS nf_flow_id,
  '10.0.0.' || CAST(event_id % 255 AS VARCHAR) AS nf_src_ip,
  CAST(443 AS BIGINT) AS nf_src_port,
  '10.0.1.1' AS nf_dest_ip,
  CAST(80 AS BIGINT) AS nf_dest_port,
  'TCP' AS nf_proto,
  CASE WHEN event_id % 2 = 0 THEN event_id % 1000 END AS nf_pkts,
  CASE WHEN event_id % 2 = 0 THEN CAST(floor(value * 100) AS BIGINT) END AS nf_bytes,
  CASE WHEN event_id % 2 = 1 THEN 'blocked' END AS nf_alert_action,
  CASE WHEN event_id % 2 = 1 THEN 'SURICATA ' || event_type END AS nf_alert_signature,
  CASE WHEN event_id % 2 = 1 THEN event_id % 3 + 1 END AS nf_alert_severity
FROM e"""

    o["cw_metric_stream_parse"] = """
WITH e AS (SELECT *, event_id % 8 = 0 AS bad FROM events)
SELECT event_id,
  CASE WHEN bad THEN NULL ELSE 's1' END AS cm_stream,
  CASE WHEN bad THEN NULL ELSE '123456789012' END AS cm_account_id,
  CASE WHEN bad THEN NULL ELSE 'us-east-1' END AS cm_region,
  CASE WHEN bad THEN NULL ELSE 'AWS/EC2' END AS cm_namespace,
  CASE WHEN bad THEN NULL ELSE event_type END AS cm_name,
  CASE WHEN bad THEN NULL
       ELSE 'InstanceId=i-' || CAST(user_id % 50 AS VARCHAR) || ',az=a' END AS cm_dims_csv,
  CASE WHEN bad THEN NULL
       ELSE CAST(floor(epoch_us(ts) / 1000) AS BIGINT) END AS cm_ts_ms,
  CASE WHEN bad THEN NULL ELSE event_id % 20 + 1 END AS cm_count,
  CASE WHEN bad THEN NULL ELSE CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) END AS cm_sum,
  CASE WHEN bad THEN NULL ELSE CAST(0.5 AS DOUBLE) END AS cm_min,
  CASE WHEN bad THEN NULL ELSE CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) END AS cm_max,
  CASE WHEN bad THEN NULL ELSE 'Seconds' END AS cm_unit
FROM e"""

    o["jaeger_pb_spans"] = """
SELECT event_id,
  printf('%032x', user_id) AS jg_trace_id,
  printf('%016x', event_id) AS jg_span_id,
  CASE WHEN event_id % 3 != 0 AND event_id > 0
       THEN printf('%016x', event_id - 1) END AS jg_parent_span_id,
  event_type AS jg_op,
  1 + event_id % 2 AS jg_flags,
  (1700000000 + event_id % 86400) * 1000000 + event_id % 1000 AS jg_start_us,
  (event_id % 5000) * 100 AS jg_duration_us,
  'code=' || CAST(event_id % 7 AS VARCHAR) || ',etype=' || event_type
    || ',ok=' || (CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END)
    || ',ratio=0.25' AS jg_tags_csv,
  'svc-' || CAST(user_id % 4 AS VARCHAR) AS jg_service,
  'host=h' || CAST(user_id % 5 AS VARCHAR) AS jg_process_tags_csv
FROM events"""

    o["zipkin_pb_spans"] = """
SELECT event_id,
  printf('%032x', event_id) AS zk_trace_id,
  CASE WHEN s = 0 THEN printf('%016x', event_id)
       ELSE printf('%016x', 2 * event_id + 1) END AS zk_span_id,
  CASE WHEN s = 0 THEN NULL ELSE printf('%016x', event_id) END AS zk_parent_span_id,
  CASE WHEN s = 0 THEN event_type ELSE event_type || '_call' END AS zk_name,
  CASE WHEN s = 0 THEN 'SERVER' ELSE 'CLIENT' END AS zk_kind,
  epoch_us(ts) AS zk_ts_us,
  CAST(CASE WHEN s = 0 THEN 1000 ELSE 500 END AS BIGINT) AS zk_duration_us,
  CASE WHEN s = 0 THEN 'api' END AS zk_service,
  CASE WHEN s = 1 THEN 'db' END AS zk_remote_service,
  CASE WHEN s = 0 THEN 'env=prod,user=u' || CAST(user_id % 7 AS VARCHAR) END AS zk_tags_csv,
  CASE WHEN s = 0 THEN CAST(epoch_us(ts) AS VARCHAR) || ':recv' END AS zk_anno_csv,
  s = 0 AND event_id % 5 = 0 AS zk_debug,
  s = 1 AND event_id % 3 = 0 AS zk_shared
FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS s) g"""

    o["jaeger_thrift_batches"] = """
SELECT event_id,
  printf('%016x', user_id) || printf('%016x', event_id) AS jt_trace_id,
  CASE WHEN s = 0 THEN printf('%016x', event_id + 1)
       ELSE printf('%016x', 2 * event_id + 3) END AS jt_span_id,
  CASE WHEN s = 0 THEN NULL ELSE printf('%016x', event_id + 1) END AS jt_parent_span_id,
  CASE WHEN s = 0 THEN event_type ELSE event_type || '_call' END AS jt_op,
  CAST(1 AS BIGINT) AS jt_flags,
  epoch_us(ts) AS jt_start_us,
  CAST(CASE WHEN s = 0 THEN 1000 ELSE 500 END AS BIGINT) AS jt_duration_us,
  CASE WHEN s = 0 THEN 'code=' || CAST(event_id % 7 AS VARCHAR) || ',etype=' || event_type
    || ',ok=' || (CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END)
    || ',ratio=0.25' END AS jt_tags_csv,
  CASE WHEN s = 0 THEN CAST(epoch_us(ts) AS VARCHAR) || ':event=recv' END AS jt_logs_csv,
  'svc-' || CAST(user_id % 4 AS VARCHAR) AS jt_service,
  'host=h' || CAST(user_id % 5 AS VARCHAR) AS jt_process_tags_csv
FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS s) g"""

    o["s3_access_log_parse"] = """
WITH e AS (SELECT *, event_id % 13 = 0 AS bad,
                  strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000' AS tstr,
                  epoch_us(ts) // 1000000 * 1000000 AS ts_sec_us FROM events)
SELECT event_id,
  CASE WHEN bad THEN NULL
       ELSE 'bucket-' || CAST(event_id % 7 AS VARCHAR) END AS s3_bucket,
  CASE WHEN bad THEN NULL ELSE tstr END AS s3_time,
  CASE WHEN bad THEN NULL ELSE ts_sec_us END AS s3_ts_us,
  CASE WHEN bad THEN NULL
       ELSE '192.0.2.' || CAST(event_id % 255 AS VARCHAR) END AS s3_remote_ip,
  CASE WHEN bad THEN NULL ELSE 'REQ' || CAST(event_id AS VARCHAR) END AS s3_request_id,
  CASE WHEN bad THEN NULL ELSE 'REST.GET.OBJECT' END AS s3_operation,
  CASE WHEN bad OR event_id % 5 = 0 THEN NULL
       ELSE 'key/' || CAST(user_id % 100 AS VARCHAR) END AS s3_key,
  CASE WHEN bad THEN NULL
       ELSE 'GET /b/k' || CAST(event_id % 9 AS VARCHAR) || ' HTTP/1.1' END AS s3_request_uri,
  CASE WHEN bad THEN NULL
       ELSE CAST(200 + (event_id % 3) * 100 AS INTEGER) END AS s3_http_status,
  CASE WHEN bad OR event_id % 6 != 0 THEN NULL ELSE 'NoSuchKey' END AS s3_error_code,
  CASE WHEN bad THEN NULL ELSE CAST(floor(value * 100) AS BIGINT) END AS s3_bytes_sent,
  CASE WHEN bad THEN NULL ELSE CAST(2048 AS BIGINT) END AS s3_object_size,
  CASE WHEN bad THEN NULL ELSE event_id % 500 END AS s3_total_time_ms,
  CAST(NULL AS BIGINT) AS s3_turn_around_time_ms,
  CAST(NULL AS VARCHAR) AS s3_referer,
  CASE WHEN bad THEN NULL ELSE 'S3Console/0.4' END AS s3_user_agent,
  CAST(NULL AS VARCHAR) AS s3_version_id
FROM e"""

    o["otlp_pb_pipeline"] = """
WITH x AS (SELECT e.*, s.i,
                  (1700000000 + event_id % 86400) * 1000000
                    + (event_id % 1000) * 1000 + i * 1000 AS ts_us
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
SELECT CASE WHEN i = 1 THEN 'errors' ELSE 'general' END AS route_id,
  'service.name=svc-' || CAST(event_id % 4 AS VARCHAR) AS ol_resource_csv,
  count(*) AS n_records,
  CAST(sum(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retry_copies,
  min(ts_us) AS first_ts_us,
  max(ts_us) AS last_ts_us
FROM x GROUP BY 1, 2"""

    o["otlp_pb_exp_histograms"] = """
SELECT event_id,
  event_type || '.exp' AS eh_name,
  CAST(2 AS INTEGER) AS eh_temporality,
  (1700000000 + event_id % 86400) * 1000000 AS eh_ts_us,
  (event_id % 3 + 1) + ((event_id + 1) % 4) + ((event_id + 2) % 5)
    + CASE WHEN event_id % 4 = 0 THEN (event_id % 2) + 1 ELSE 0 END AS eh_count,
  value AS eh_sum,
  CAST(CASE WHEN event_id % 3 = 0 THEN 2 ELSE -(event_id % 3) END AS INTEGER) AS eh_scale,
  event_id % 7 AS eh_zero_count,
  CAST((event_id % 11) - 5 AS INTEGER) AS eh_pos_offset,
  CAST(event_id % 3 + 1 AS VARCHAR) || ',' || CAST((event_id + 1) % 4 AS VARCHAR)
    || ',' || CAST((event_id + 2) % 5 AS VARCHAR) AS eh_pos_counts_csv,
  CASE WHEN event_id % 4 = 0 THEN CAST(-2 AS INTEGER) END AS eh_neg_offset,
  CASE WHEN event_id % 4 = 0
       THEN CAST(event_id % 2 AS VARCHAR) || ',1' END AS eh_neg_counts_csv
FROM events"""

    o["cloudtrail_records"] = """
WITH x AS (SELECT e.*, s.i FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
SELECT event_id,
  '1.08' AS ct_version,
  (1700000000 + event_id % 86400) * 1000000 AS ct_ts_us,
  event_type || '.amazonaws.com' AS ct_source,
  CASE WHEN i = 1 THEN 'GetObject' ELSE 'PutObject' END AS ct_name,
  'us-east-1' AS ct_region,
  '10.1.' || CAST(user_id % 255 AS VARCHAR) || '.9' AS ct_source_ip,
  'IAMUser' AS ct_identity_type,
  'arn:aws:iam::123456789012:user/u' || CAST(user_id % 50 AS VARCHAR) AS ct_identity_arn,
  '123456789012' AS ct_account_id,
  'req-' || CAST(event_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS ct_request_id,
  'ev-' || CAST(event_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS ct_event_id,
  i = 1 AS ct_read_only,
  CASE WHEN event_id % 6 = 0 THEN 'AccessDenied' END AS ct_error_code
FROM x"""

    o["otlp_pb_histograms"] = """
SELECT event_id,
  event_type || '.latency' AS hh_name,
  CAST(2 AS INTEGER) AS hh_temporality,
  (1700000000 + event_id % 86400) * 1000000 AS hh_ts_us,
  (event_id % 4) + ((event_id + 1) % 3) + ((event_id + 2) % 5) AS hh_count,
  value AS hh_sum,
  CAST(event_id % 4 AS VARCHAR) || ',' || CAST((event_id + 1) % 3 AS VARCHAR)
    || ',' || CAST((event_id + 2) % 5 AS VARCHAR) AS hh_bucket_counts_csv,
  '1.0,5.0' AS hh_bounds_csv,
  'etype=' || event_type AS hh_attrs_csv
FROM events"""

    o["prw_histogram_series"] = """
WITH h AS (
  SELECT event_id,
    event_type || '.latency' AS nm,
    (1700000000 + event_id % 86400) * 1000000 AS hh_ts_us,
    CAST((event_id % 4) + ((event_id + 1) % 3) + ((event_id + 2) % 5) AS DOUBLE) AS cnt,
    CAST(value AS DOUBLE) AS sm,
    CAST(event_id % 4 AS DOUBLE) AS c1,
    CAST(event_id % 4 AS DOUBLE) + CAST((event_id + 1) % 3 AS DOUBLE) AS c2
  FROM events)
SELECT event_id, hh_ts_us, nm || '_sum' AS series, CAST(NULL AS VARCHAR) AS le, sm AS value FROM h
UNION ALL
SELECT event_id, hh_ts_us, nm || '_count', NULL, cnt FROM h
UNION ALL
SELECT event_id, hh_ts_us, nm || '_bucket', '1.0', c1 FROM h
UNION ALL
SELECT event_id, hh_ts_us, nm || '_bucket', '5.0', c2 FROM h
UNION ALL
SELECT event_id, hh_ts_us, nm || '_bucket', '+Inf', cnt FROM h"""

    o["prw_summary_series"] = """
WITH s AS (
  SELECT event_id, event_type || '.duration' AS nm,
         CAST(event_id % 7 + 1 AS DOUBLE) AS cnt,
         CAST(value AS DOUBLE) AS sm,
         event_id % 10 <> 0 AS has_q
  FROM events)
SELECT event_id, nm || '_sum' AS series, CAST(NULL AS VARCHAR) AS quantile, sm AS value FROM s
UNION ALL
SELECT event_id, nm || '_count', NULL, cnt FROM s
UNION ALL
SELECT event_id, nm, '0.5', CAST(event_id % 100 AS DOUBLE) FROM s WHERE has_q
UNION ALL
SELECT event_id, nm, '0.9', CAST(event_id % 250 AS DOUBLE) FROM s WHERE has_q
UNION ALL
SELECT event_id, nm, '0.99', CAST(event_id % 500 AS DOUBLE) FROM s WHERE has_q"""

    o["jaeger_tags_otlp"] = """
WITH t AS (
  SELECT event_id AS e, event_type,
    CASE e % 5 WHEN 0 THEN 'client' WHEN 1 THEN 'server'
               WHEN 2 THEN 'producer' WHEN 3 THEN 'internal'
               ELSE 'unspecified' END AS kind,
    e % 7 = 0 AS st1,
    e % 3 = 0 AS has_osc,
    CASE WHEN e % 6 = 0 THEN 'ok' ELSE 'error' END AS osc_code,
    e % 4 = 0 AS has_osd,
    'd' || CAST(e % 10 AS VARCHAR) AS osd_val,
    e % 2 = 0 AS has_http,
    e % 500 + 100 AS hcode,
    e % 8 = 0 AS has_hsm,
    e % 9 = 0 AS has_ts
  FROM (SELECT event_id, event_type FROM events) _ (event_id, event_type)),
d AS (
  SELECT *,
    (NOT st1) AND (NOT has_osc) AND has_http AS http_branch,
    CASE WHEN hcode BETWEEN 400 AND 499 AND kind = 'client' THEN 'error'
         WHEN hcode BETWEEN 400 AND 499 AND kind = 'server' THEN 'unset'
         WHEN hcode BETWEEN 100 AND 398 THEN 'unset'
         ELSE 'error' END AS http_code_status
  FROM t)
SELECT e AS event_id,
  kind AS otlp_kind,
  st1 OR has_osc OR (http_branch AND http_code_status <> 'unset') AS otlp_status_set,
  CASE WHEN st1 THEN 'error'
       WHEN has_osc THEN osc_code
       WHEN http_branch AND http_code_status <> 'unset' THEN http_code_status
       ELSE 'unset' END AS otlp_status_code,
  CASE WHEN st1 THEN (CASE WHEN has_osd THEN osd_val WHEN has_hsm THEN 'hm' ELSE '' END)
       WHEN has_osc THEN (CASE WHEN has_osd THEN osd_val ELSE '' END)
       WHEN http_branch AND http_code_status <> 'unset' THEN (CASE WHEN has_hsm THEN 'hm' ELSE '' END)
       ELSE '' END AS otlp_status_message,
  CASE WHEN has_ts THEN 'vendor:1' ELSE '' END AS otlp_trace_state,
  array_to_string(list_sort(list_filter([
    'etype=' || event_type,
    CASE WHEN e % 7 = 1 THEN 'error=false' END,
    CASE WHEN has_osd AND NOT st1 AND NOT has_osc THEN 'otel.status_description=' || osd_val END,
    CASE WHEN has_http THEN 'http.status_code=' || CAST(hcode AS VARCHAR) END,
    CASE WHEN has_hsm THEN 'http.status_message=hm' END
  ], x -> x IS NOT NULL)), ',') AS attrs_rest_csv
FROM d"""

    o["filelog_header_metadata"] = r"""
WITH b AS (
  SELECT event_id, event_id % 50 AS fid,
         row_number() OVER (PARTITION BY event_id % 50 ORDER BY event_id) AS rn
  FROM events),
l AS (
  SELECT *, CASE
    WHEN rn = 1 AND fid % 7 <> 0 THEN '# host=h' || CAST(fid % 5 AS VARCHAR)
    WHEN rn = 2 AND fid % 3 = 0 THEN '# host=h9'
    WHEN rn = 3 AND fid % 2 = 0 THEN '# region=r' || CAST(fid % 4 AS VARCHAR)
    ELSE 'msg ' || CAST(event_id AS VARCHAR) END AS text
  FROM b),
fl AS (
  SELECT *, min(CASE WHEN text LIKE '#%' THEN 1 ELSE 0 END)
              OVER (PARTITION BY fid ORDER BY rn ROWS UNBOUNDED PRECEDING) = 1 AS is_hdr
  FROM l),
h AS (
  SELECT fid,
    arg_max(regexp_extract(text, '^# host=(\S+)$', 1), rn)
      FILTER (WHERE regexp_extract(text, '^# host=(\S+)$', 1) <> '') AS host,
    arg_max(regexp_extract(text, '^# region=(\S+)$', 1), rn)
      FILTER (WHERE regexp_extract(text, '^# region=(\S+)$', 1) <> '') AS region
  FROM fl WHERE is_hdr GROUP BY fid)
SELECT d.event_id, d.fid, CAST(d.rn AS INT) AS rn, d.text,
  coalesce(array_to_string(list_sort(list_filter([
    CASE WHEN h.host IS NOT NULL THEN 'host=' || h.host END,
    CASE WHEN h.region IS NOT NULL THEN 'region=' || h.region END
  ], x -> x IS NOT NULL)), ','), '') AS hdr_csv
FROM fl d LEFT JOIN h ON h.fid = d.fid
WHERE NOT d.is_hdr"""

    o["redaction_full_config"] = """
WITH t AS (
  SELECT event_id AS e, event_type,
    event_id % 3 = 0 AS has_ssn,
    event_id % 5 = 0 AS has_token,
    event_id % 2 = 0 AS has_extra
  FROM events)
SELECT e AS event_id,
  array_to_string(list_sort(list_filter([
    'env=prod',
    'etype=' || event_type,
    CASE WHEN has_ssn THEN 'ssn=****' END,
    CASE WHEN has_token THEN 'token=****' END,
    'redaction.redacted.count=' || CASE WHEN has_extra THEN '1' ELSE '0' END,
    'redaction.redacted.keys=' || CASE WHEN has_extra THEN 'extra' ELSE '' END,
    'redaction.masked.count=' || CAST((CASE WHEN has_ssn THEN 1 ELSE 0 END)
                                     + (CASE WHEN has_token THEN 1 ELSE 0 END) AS VARCHAR),
    'redaction.masked.keys=' || CASE WHEN has_ssn AND has_token THEN 'ssn,token'
                                     WHEN has_ssn THEN 'ssn'
                                     WHEN has_token THEN 'token' ELSE '' END,
    'redaction.allowed.count=0',
    'redaction.allowed.keys=',
    'redaction.ignored.count=1'
  ], x -> x IS NOT NULL)), ',') AS attrs_csv
FROM t"""

    o["zipkin_tags_otlp"] = """
WITH t AS (
  SELECT event_id AS e, event_type,
    e0.* FROM (SELECT event_id, event_type FROM events) _ (event_id, event_type),
    LATERAL (SELECT
      event_id % 2 = 0 AS wire_known,
      (event_id % 3 = 0) OR (event_id % 3 = 1 AND event_id % 9 = 1) AS has_osc,
      CASE WHEN event_id % 3 = 0 AND event_id % 6 = 0 THEN 'ok'
           WHEN event_id % 3 = 0 THEN 'error' ELSE 'unset' END AS osc_code,
      event_id % 5 = 0 AS has_osd,
      'd' || CAST(event_id % 10 AS VARCHAR) AS osd_val,
      event_id % 7 IN (0, 1) AS has_err
    ) e0)
SELECT e AS event_id,
  CASE WHEN wire_known THEN (CASE WHEN e % 4 = 0 THEN 'client' ELSE 'producer' END)
       WHEN e % 4 = 0 THEN 'internal' ELSE 'unspecified' END AS otlp_kind,
  has_osc OR has_err AS otlp_status_set,
  CASE WHEN has_err THEN 'error' WHEN has_osc THEN osc_code ELSE 'unset' END AS otlp_status_code,
  CASE WHEN has_osc AND has_osd THEN osd_val ELSE '' END AS otlp_status_message,
  array_to_string(list_sort(list_filter([
    'etype=' || event_type,
    CASE WHEN e % 4 = 0 THEN 'span.kind=internal' END,
    CASE WHEN has_osd AND NOT has_osc THEN 'otel.status_description=' || osd_val END,
    CASE WHEN e % 7 = 1 THEN 'error=oops' END
  ], x -> x IS NOT NULL)), ',') AS attrs_rest_csv
FROM t"""

    o["alb_access_log_parse"] = """
WITH e AS (SELECT *, event_id % 13 = 0 AS bad, event_id % 9 = 0 AS unset FROM events)
SELECT event_id,
  CASE WHEN bad THEN NULL WHEN event_id % 2 = 0 THEN 'https' ELSE 'http' END AS alb_type,
  CASE WHEN bad THEN NULL
       ELSE '192.168.' || CAST(event_id % 255 AS VARCHAR) || '.1:2817' END AS alb_client,
  CASE WHEN bad OR unset THEN NULL
       ELSE '10.0.' || CAST(user_id % 255 AS VARCHAR) || '.2:80' END AS alb_target,
  CASE WHEN bad THEN NULL
       ELSE CAST('0.0' || CAST(event_id % 10 AS VARCHAR) AS DOUBLE)
       END AS alb_request_processing_time,
  CASE WHEN bad THEN NULL
       ELSE CAST(200 + (event_id % 3) * 100 AS INTEGER) END AS alb_elb_status_code,
  CASE WHEN bad OR unset THEN NULL
       ELSE CAST(200 + (event_id % 3) * 100 AS INTEGER) END AS alb_target_status_code,
  CASE WHEN bad THEN NULL ELSE 34 + event_id % 100 END AS alb_received_bytes,
  CASE WHEN bad THEN NULL ELSE CAST(floor(value * 100) AS BIGINT) END AS alb_sent_bytes,
  CASE WHEN bad THEN NULL ELSE 'curl/7.46.0' END AS alb_user_agent,
  CASE WHEN bad THEN NULL ELSE 'ECDHE-RSA-AES128-GCM-SHA256' END AS alb_ssl_cipher,
  CASE WHEN bad THEN NULL
       ELSE 'Root=1-' || CAST(event_id AS VARCHAR) END AS alb_trace_id,
  CASE WHEN bad THEN NULL ELSE 'www.example.com' END AS alb_domain_name,
  CAST(NULL AS VARCHAR) AS alb_chosen_cert_arn,
  CASE WHEN bad THEN NULL ELSE CAST(event_id % 5 AS VARCHAR) END AS alb_matched_rule_priority,
  CASE WHEN bad THEN NULL WHEN event_id % 4 = 0 THEN 'authenticate,forward'
       ELSE 'forward' END AS alb_actions_executed,
  CASE WHEN bad THEN NULL ELSE 'GET' END AS alb_method,
  CASE WHEN bad THEN NULL
       ELSE 'https://www.example.com:443/p' || CAST(event_id % 50 AS VARCHAR) END AS alb_url,
  CASE WHEN bad THEN NULL ELSE 'HTTP/1.1' END AS alb_protocol
FROM e"""

    o["cloudwatch_sub_events"] = """
WITH x AS (SELECT e.*, s.i, (1700000000 + event_id % 86400) * 1000 AS ms
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s
           WHERE event_id % 9 != 0)
SELECT event_id,
  CAST(100000000000 + user_id % 100 AS VARCHAR) AS cw_owner,
  '/app/' || event_type AS cw_log_group,
  'stream-' || CAST(user_id % 5 AS VARCHAR) AS cw_log_stream,
  'f1,f2' AS cw_filters_csv,
  CAST(event_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS cw_event_id,
  ms + i * 17 AS cw_ts_ms,
  CASE WHEN i = 0 THEN 'msg ' || event_type || ' ' || CAST(event_id AS VARCHAR)
       ELSE 'msg2 ' || CAST(event_id AS VARCHAR) END AS cw_message
FROM x"""

    o["vpc_flow_parse"] = """
WITH e AS (SELECT *, event_id % 11 = 0 AS bad,
                  epoch_us(ts) // 1000000 AS st FROM events)
SELECT event_id,
  CASE WHEN bad THEN NULL ELSE 2 END AS fl_version,
  CASE WHEN bad THEN NULL ELSE '123456789010' END AS fl_account_id,
  CASE WHEN bad THEN NULL ELSE 'eni-' || CAST(user_id % 100 AS VARCHAR) END AS fl_interface_id,
  CASE WHEN bad THEN NULL
       ELSE '10.0.' || CAST(event_id % 255 AS VARCHAR) || '.1' END AS fl_srcaddr,
  CASE WHEN bad THEN NULL
       ELSE '10.0.' || CAST(user_id % 255 AS VARCHAR) || '.2' END AS fl_dstaddr,
  CASE WHEN bad OR event_id % 10 = 0 THEN NULL
       ELSE CAST(1024 + event_id % 50000 AS INTEGER) END AS fl_srcport,
  CASE WHEN bad THEN NULL ELSE 443 END AS fl_dstport,
  CASE WHEN bad THEN NULL ELSE 6 END AS fl_protocol,
  CASE WHEN bad THEN NULL ELSE event_id % 1000 END AS fl_packets,
  CASE WHEN bad THEN NULL ELSE CAST(floor(value * 100) AS BIGINT) END AS fl_bytes,
  CASE WHEN bad THEN NULL ELSE st END AS fl_start,
  CASE WHEN bad THEN NULL ELSE st + 60 END AS fl_end,
  CASE WHEN bad THEN NULL
       WHEN event_id % 2 = 0 THEN 'ACCEPT' ELSE 'REJECT' END AS fl_action,
  CASE WHEN bad THEN NULL ELSE 'OK' END AS fl_log_status
FROM e"""

    o["avro_log_decode"] = """
SELECT event_id,
  (1700000000 + event_id % 86400) * 1000000000 AS av_timestamp,
  'm' || CAST(event_id AS VARCHAR) AS av_message,
  'h' || CAST(user_id % 5 AS VARCHAR) AS av_hostname,
  event_id % 100 AS av_count,
  CASE event_id % 3 WHEN 0 THEN 'DEBUG' WHEN 1 THEN 'INFO' ELSE 'ERROR' END AS av_levelEnum,
  event_id % 5 AS av_severity,
  CASE WHEN event_id % 7 = 0 THEN NULL ELSE 'warn' END AS av_level,
  CASE WHEN event_id % 4 = 0 THEN '[]' ELSE '[' || event_type || ',p2]' END AS av_properties,
  '{field1=' || CAST(event_id % 9 AS VARCHAR) || ',field2=val2}' AS av_nestedRecord,
  CASE WHEN event_id % 5 = 0 THEN '{}' ELSE '{k=' || event_type || '}' END AS av_mapField
FROM events"""

    ring_values = ", ".join(f"({p}, '{e}')" for p, e in _ring())
    o["ring_route_backends"] = f"""
WITH ring(rpos, ep) AS (VALUES {ring_values}),
k AS (SELECT event_id, 'trace-' || CAST(user_id AS VARCHAR) AS key FROM events),
h AS (SELECT event_id, key,
             CAST('0x' || substr(md5(key), 1, 15) AS BIGINT) % 131071 AS pos FROM k)
SELECT event_id, key,
  coalesce(
    (SELECT min_by(ep, rpos) FROM ring WHERE rpos >= h.pos),
    (SELECT min_by(ep, rpos) FROM ring)
  ) AS backend
FROM h"""

    o["otlp_pb_spans"] = """
SELECT event_id,
  printf('%032x', user_id) AS sp_trace_id,
  printf('%016x', event_id) AS sp_span_id,
  CASE WHEN event_id % 3 != 0 AND event_id > 0
       THEN printf('%016x', event_id - 1) END AS sp_parent_span_id,
  event_type AS sp_name,
  CAST(2 + event_id % 3 AS INTEGER) AS sp_kind,
  (1700000000 + event_id % 86400) * 1000000 AS sp_start_us,
  (1700000000 + event_id % 86400) * 1000000 + (event_id % 100) * 1000 AS sp_end_us,
  CAST(event_id % 3 AS INTEGER) AS sp_status_code,
  'etype=' || event_type AS sp_attrs_csv,
  'service.name=svc-' || CAST(user_id % 4 AS VARCHAR) AS sp_resource_csv
FROM events"""

    o["otlp_pb_metrics"] = """
SELECT event_id,
  event_type || CASE WHEN event_id % 2 = 0 THEN '.value' ELSE '.count' END AS mt_name,
  CASE WHEN event_id % 2 = 0 THEN 'ms' ELSE '1' END AS mt_unit,
  CASE WHEN event_id % 2 = 0 THEN 'gauge' ELSE 'sum' END AS mt_type,
  CASE WHEN event_id % 2 = 0 THEN NULL ELSE CAST(2 AS INTEGER) END AS mt_temporality,
  CASE WHEN event_id % 2 = 0 THEN NULL ELSE TRUE END AS mt_monotonic,
  (1700000000 + event_id % 86400) * 1000000 AS mt_ts_us,
  CASE WHEN event_id % 2 = 0 THEN value
       ELSE CAST(floor(value * 100) AS DOUBLE) END AS mt_value,
  event_id % 2 != 0 AS mt_is_int,
  'etype=' || event_type AS mt_attrs_csv
FROM events"""

    o["fluent_forward_parse"] = """
WITH x AS (SELECT e.*, s.i, 1700000000 + event_id % 86400 AS sec
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s
           WHERE event_id % 3 != 0 OR i = 0)
SELECT event_id,
  CASE event_id % 3 WHEN 0 THEN 'message' WHEN 1 THEN 'forward'
       ELSE 'packedforward' END AS ff_mode,
  CASE event_id % 3 WHEN 0 THEN 'svc.msg' WHEN 1 THEN 'svc.fwd'
       ELSE 'svc.packed' END AS ff_tag,
  CASE WHEN event_id % 3 = 0 THEN sec * 1000000
       WHEN event_id % 3 = 1 THEN sec * 1000000 + (event_id % 1000) * 1000
       WHEN i = 0 THEN sec * 1000000
       ELSE sec * 1000000 + 250000 END AS ff_ts_us,
  'm' || CAST(event_id AS VARCHAR) AS ff_body,
  CASE WHEN event_id % 3 = 1 AND i = 1 THEN 'etype=' || event_type || ',seq=2'
       ELSE 'etype=' || event_type END AS ff_attrs_csv,
  CASE WHEN event_id % 3 = 2 THEN 'c' || CAST(event_id AS VARCHAR) END AS ff_chunk
FROM x"""

    o["parse_carbon_lines"] = """
WITH e AS (SELECT *, epoch_us(ts) // 1000000 AS secs,
                  (event_id % 10 != 0 AND event_id % 13 != 0) AS ok FROM events)
SELECT event_id,
  CASE WHEN ok THEN event_type END AS cb_name,
  CASE WHEN ok THEN 'env=prod,host=h' || CAST(user_id % 5 AS VARCHAR) END AS cb_tags_csv,
  CASE WHEN NOT ok THEN NULL
       WHEN event_id % 2 = 0 THEN CAST(CAST(floor(value * 100) AS BIGINT) AS DOUBLE)
       ELSE CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) END AS cb_value,
  CASE WHEN ok THEN event_id % 2 = 0 END AS cb_is_int,
  CASE WHEN NOT ok THEN NULL
       WHEN event_id % 2 = 0 THEN secs * 1000000
       ELSE secs * 1000000 + 500000 END AS cb_ts_us
FROM e"""

    o["parse_collectd_json"] = """
WITH e AS (SELECT *, epoch_us(ts) // 1000000 AS secs,
                  CAST(floor(value * 100) AS BIGINT) AS iv FROM events),
x AS (SELECT e.*, s.i FROM e CROSS JOIN (SELECT unnest([0, 1]) AS i) s
      WHERE event_id % 5 != 0 OR i = 0)
SELECT event_id,
  CASE WHEN event_id % 5 = 0 THEN 'load'
       ELSE event_type || '.octets.' || (CASE WHEN i = 0 THEN 'rx' ELSE 'tx' END)
       END AS cd_name,
  'h' || CAST(user_id % 5 AS VARCHAR) AS cd_host,
  CASE WHEN event_id % 5 = 0 THEN 'load' ELSE 'if' END AS cd_plugin,
  CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'eth0' END AS cd_plugin_instance,
  CASE WHEN event_id % 5 = 0 THEN 'value' WHEN i = 0 THEN 'rx' ELSE 'tx' END AS cd_dsname,
  CASE WHEN event_id % 5 = 0 THEN 'gauge' ELSE 'derive' END AS cd_dstype,
  CAST(CASE WHEN event_id % 5 != 0 AND i = 1 THEN iv * 10 + 1 ELSE iv END AS DOUBLE) AS cd_value,
  CAST(10.0 AS DOUBLE) AS cd_interval,
  secs * 1000000 + 250000 AS cd_ts_us
FROM x"""

    o["parse_firehose_records"] = """
WITH x AS (SELECT e.*, s.i,
                  CAST(floor(value * 100) AS BIGINT) AS iv
           FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
SELECT event_id,
  'req-' || CAST(event_id AS VARCHAR) AS fh_request_id,
  CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS fh_ts_ms,
  CAST(i AS INTEGER) AS fh_record_idx,
  CASE WHEN i = 0 THEN 'evt ' || event_type || ' ' || CAST(iv AS VARCHAR) ELSE '' END AS fh_data
FROM x"""

    # --- exporter renders: the oracle rebuilds each wire line with the
    # same concat/strftime arithmetic, so parity is byte-for-byte
    _rfc5424_line = r"""
    '<' || CASE WHEN event_id % 7 != 0 THEN CAST(event_id % 192 AS VARCHAR) ELSE '165' END
    || '>1 '
    || regexp_replace(strftime(ts2, '%Y-%m-%dT%H:%M:%S.%f') || 'Z', '\.?0+Z$', 'Z')
    || ' h' || CAST(user_id % 5 AS VARCHAR)
    || ' ' || CASE WHEN event_id % 3 != 0 THEN event_type ELSE '-' END
    || ' ' || CAST(user_id AS VARCHAR) || ' - -'
    || CASE WHEN event_id % 11 = 0 THEN ''
       ELSE ' event ' || event_type || ' value=' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) END
    || chr(10)"""
    o["render_syslog_rfc5424"] = f"""
WITH e AS (SELECT *, ts + to_microseconds((event_id % 1000) * 1000) AS ts2 FROM events),
f AS (SELECT event_id, {_rfc5424_line} AS syslog_line FROM e)
SELECT event_id, syslog_line,
       CAST(length(syslog_line) AS VARCHAR) || ' ' || syslog_line AS framed
FROM f"""

    o["render_syslog_rfc3164"] = """
SELECT event_id,
  '<165>' || strftime(ts, '%b') || ' ' || lpad(CAST(day(ts) AS VARCHAR), 2, ' ')
  || ' ' || strftime(ts, '%H:%M:%S')
  || ' h' || CAST(user_id % 5 AS VARCHAR) || ' '
  || CASE WHEN event_id % 3 != 0 THEN event_type || ':' ELSE '' END
  || CASE WHEN event_id % 3 != 0 AND event_id % 11 != 0 THEN ' ' ELSE '' END
  || CASE WHEN event_id % 11 = 0 THEN ''
     ELSE 'value=' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) END
  || chr(10) AS syslog_line
FROM events"""

    o["render_prom_roundtrip"] = """
SELECT event_id,
  event_type || '_total{code="' || CAST(event_id % 3 AS VARCHAR) || '",method="get"} '
    || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) || ' '
    || CAST(CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS VARCHAR) AS body,
  event_type || '_total' AS pm_name,
  'code=' || CAST(event_id % 3 AS VARCHAR) || ',method=get' AS pm_labels_csv,
  CAST(CAST(floor(value * 100) AS BIGINT) AS DOUBLE) AS pm_value,
  CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS pm_ts_ms
FROM events"""

    o["render_es_bulk_docs"] = """
SELECT doc_id,
  '{"create":{"_index":"docs-' || lang || '","_id":"' || CAST(doc_id AS VARCHAR) || '"}}'
    AS es_action,
  '{"source":"' || source || '","n_chars":' || CAST(n_chars AS VARCHAR)
    || ',"excerpt":"' || substr(text, 1, 40) || '"}' AS es_doc
FROM documents"""

    o["render_splunk_hec_events"] = r"""
WITH e AS (SELECT *, epoch_us(ts) + (event_id % 1000) * 1000 AS us FROM events)
SELECT event_id,
  '{"time":' || CAST(us // 1000000 AS VARCHAR) || '.'
    || lpad(CAST((us % 1000000) // 1000 AS VARCHAR), 3, '0')
    || ',"host":"h' || CAST(user_id % 5 AS VARCHAR)
    || '","source":"events","sourcetype":"' || event_type || '"'
    || CASE WHEN event_id % 4 != 0 THEN ',"index":"main"' ELSE '' END
    || ',"event":"'
    || replace(replace(replace(replace(replace(props,
         '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'), chr(9), '\t')
    || '"}' AS hec_event
FROM e"""

    # pairwise collapse of [1,5,10,50,100]+overflow twice leaves <=50 / >50
    o["events_histogram_limit"] = """
SELECT event_type, count(value) AS h_count,
       concat_ws(',',
         CAST(sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS VARCHAR)) AS buckets_csv,
       '50.0' AS bounds_csv
FROM events GROUP BY 1"""

    o["events_histogram_scaled"] = """
SELECT event_type, count(value) AS h_count,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 0.001 AS h_sum,
       concat_ws(',',
         CAST(sum(CASE WHEN value <= 1 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 1 AND value <= 5 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 5 AND value <= 10 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 10 AND value <= 50 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 50 AND value <= 100 THEN 1 ELSE 0 END) AS VARCHAR),
         CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS VARCHAR)) AS buckets_csv,
       concat_ws(',',
         CAST(CAST(round(1.0 * 0.001 * 1000000) AS BIGINT) AS VARCHAR),
         CAST(CAST(round(5.0 * 0.001 * 1000000) AS BIGINT) AS VARCHAR),
         CAST(CAST(round(10.0 * 0.001 * 1000000) AS BIGINT) AS VARCHAR),
         CAST(CAST(round(50.0 * 0.001 * 1000000) AS BIGINT) AS VARCHAR),
         CAST(CAST(round(100.0 * 0.001 * 1000000) AS BIGINT) AS VARCHAR)) AS bounds_micro_csv
FROM events GROUP BY 1"""

    # the canonical routed CTE uses the exact route table the service spec
    # declares, so both connector edges reduce to one grouped scan of it
    o["collector_service_counts"] = pipeline_cte() + """
SELECT route_id, count(*) AS log_count, CAST(sum(latency_ms) AS DOUBLE) AS total
FROM routed GROUP BY 1"""

    o["collector_service_forward"] = pipeline_cte() + """
SELECT conv_id, turn_idx, text, route_id
FROM routed WHERE route_id = 'errors'"""

    from .transcript_sql import SYSLOG_RE, T2_TRANSCRIPTS

    _sev_case = """CASE lower(lvl)
        WHEN 'trace' THEN 'TRACE' WHEN 'debug' THEN 'DEBUG'
        WHEN 'info' THEN 'INFO' WHEN 'information' THEN 'INFO' WHEN 'notice' THEN 'INFO'
        WHEN 'warn' THEN 'WARN' WHEN 'warning' THEN 'WARN'
        WHEN 'err' THEN 'ERROR' WHEN 'error' THEN 'ERROR'
        WHEN 'fatal' THEN 'FATAL' WHEN 'critical' THEN 'FATAL'
        WHEN 'emerg' THEN 'FATAL' WHEN 'panic' THEN 'FATAL' END"""
    o["stanza_chain_parse"] = f"""
WITH t AS (SELECT * FROM read_parquet('{T2_TRANSCRIPTS}')),
p AS (
  SELECT conv_id, turn_idx,
    CASE WHEN regexp_matches(text, '{SYSLOG_RE}') THEN regexp_extract(text, '{SYSLOG_RE}', 1) END AS log_ts,
    CASE WHEN regexp_matches(text, '{SYSLOG_RE}') THEN regexp_extract(text, '{SYSLOG_RE}', 2) END AS lvl,
    CASE WHEN regexp_matches(text, '{SYSLOG_RE}') THEN regexp_extract(text, '{SYSLOG_RE}', 3) END AS comp,
    CASE WHEN regexp_matches(text, '{SYSLOG_RE}') THEN regexp_extract(text, '{SYSLOG_RE}', 4) END AS msg
  FROM t
),
s AS (
  SELECT p.*, {_sev_case} AS severity_text,
    coalesce(CASE {_sev_case}
      WHEN 'TRACE' THEN 1 WHEN 'DEBUG' THEN 5 WHEN 'INFO' THEN 9
      WHEN 'WARN' THEN 13 WHEN 'ERROR' THEN 17 WHEN 'FATAL' THEN 21 END, 0) AS severity_number
  FROM p
)
SELECT conv_id, turn_idx, comp, msg, severity_text, CAST(severity_number AS INT) AS severity_number,
       epoch_us(strptime(log_ts, '%Y-%m-%dT%H:%M:%S')) AS event_ts_us,
       'stanza' AS chain,
       CASE WHEN severity_number >= 17 THEN 'errors' ELSE 'general' END AS route_id
FROM s"""

    _start_time_cte = """
WITH base AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
         row_number() OVER w AS rn,
         last_value(value IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
e AS (
  SELECT *, sum(CASE WHEN rn = 1 OR (value IS NOT NULL AND prev IS NOT NULL AND value < prev)
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY event_id) AS epoch
  FROM base
),
f AS (
  SELECT *, first_value(ts_us) OVER we AS efts, first_value(value) OVER we AS eref
  FROM e
  WINDOW we AS (PARTITION BY user_id, epoch ORDER BY event_id)
)
"""
    o["events_start_true_reset"] = _start_time_cte + """
SELECT user_id, event_id, value,
       CASE WHEN epoch = 1 THEN efts ELSE efts - 1000 END AS start_ts_us,
       CAST(value AS DOUBLE) AS adjusted
FROM f"""
    o["events_start_subtract_initial"] = _start_time_cte + """
SELECT user_id, event_id, value,
       CASE WHEN epoch = 1 THEN efts ELSE efts - 1000 END AS start_ts_us,
       CAST(CASE WHEN epoch = 1 THEN value - eref ELSE value END AS DOUBLE) AS adjusted
FROM f WHERE rn > 1"""

    win86400 = _WIN_SQL.format(i=86400)
    o["events_host_info"] = f"""
SELECT DISTINCT {win86400} AS window_start,
       'traces_host_info' AS metric_name,
       coalesce(CASE WHEN event_type = 'error' THEN 'err:' || CAST(user_id AS VARCHAR) END,
                CAST(user_id AS VARCHAR)) AS grafana_host_id,
       CAST(1 AS BIGINT) AS value
FROM events
WHERE coalesce(CASE WHEN event_type = 'error' THEN 'err:' || CAST(user_id AS VARCHAR) END,
               CAST(user_id AS VARCHAR)) IS NOT NULL"""

    # round-trip identity: cumulative-then-delta must equal the raw deltas
    o["events_histogram_cum_to_delta"] = """
WITH base AS (
  SELECT event_type, CAST(floor(epoch_us(ts) / (3600 * CAST(1000000 AS BIGINT))) AS BIGINT) AS h,
         event_id, value
  FROM events),
d AS (
  SELECT event_type, h, count(*) AS h_count,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS h_sum,
         concat_ws(',',
           CAST(sum(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) AS VARCHAR),
           CAST(sum(CASE WHEN event_id % 4 = 1 THEN 1 ELSE 0 END) AS VARCHAR),
           CAST(sum(CASE WHEN event_id % 4 = 2 THEN 1 ELSE 0 END) AS VARCHAR),
           CAST(sum(CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END) AS VARCHAR)) AS buckets_csv
  FROM base GROUP BY 1, 2)
SELECT event_type, h,
       h = min(h) OVER (PARTITION BY event_type) AS is_reset,
       h_count, h_sum, buckets_csv
FROM d"""

    o["events_metrics_transform"] = """
SELECT event_type,
       round(sum(value), 3) AS agg_sum,
       round(avg(value), 6) AS agg_mean,
       round(min(value), 6) AS agg_min,
       round(max(value), 6) AS agg_max,
       round(quantile_cont(value, 0.5), 6) AS agg_median,
       count(value) AS agg_count
FROM events GROUP BY 1"""

    o["signal_to_metrics"] = (
        cte
        + """
SELECT 'turn.count' AS metric_name,
       'route_id=' || coalesce(CAST(route_id AS VARCHAR), 'null') AS dims,
       CAST(count(*) AS DOUBLE) AS value
FROM ordered GROUP BY route_id
UNION ALL
SELECT 'err.count', 'role=' || coalesce(CAST(role AS VARCHAR), 'null'),
       CAST(count(*) AS DOUBLE)
FROM ordered WHERE status = 'err' GROUP BY role
UNION ALL
SELECT 'latency.sum', 'tool=' || tool,
       CAST(sum(CAST(latency_ms AS DECIMAL(18,6))) AS DOUBLE)
FROM ordered WHERE latency_ms >= 0 GROUP BY tool"""
    )

    o["exceptions_by_dim"] = (
        cte
        + """
SELECT route_id, role, tool, count(*) AS exception_count, min(text) AS exemplar
FROM ordered WHERE status = 'err' GROUP BY 1, 2, 3"""
    )

    # mirrors q_metrics_rename_scale: staged CTEs, one per sequential
    # transform; label set tracked as flags (one base label + optional unit)
    o["events_metrics_rename_scale"] = """
WITH m0 AS (SELECT event_id, event_type AS name, CAST(user_id % 10 AS VARCHAR) AS user_v, value
            FROM events),
m1 AS (SELECT event_id,
         CASE WHEN name = 'view' THEN 'page_views' ELSE name END AS name,
         user_v,
         CASE WHEN name = 'view' THEN value * 0.001 ELSE value END AS value,
         (name = 'view') AS has_unit
       FROM m0),
m2 AS (SELECT * FROM m1
       UNION ALL
       SELECT event_id, 'purchase_x2' AS name, user_v, value * 2.0 AS value, has_unit
       FROM m1 WHERE name = 'purchase'),
m4 AS (SELECT event_id,
         CASE WHEN regexp_matches(name, '^(error|signup)$') THEN 'ops_events' ELSE name END AS name,
         user_v, value, has_unit,
         (name = 'click') AS uid_key
       FROM m2),
m5 AS (SELECT * FROM m4 WHERE NOT (name = 'ops_events' AND user_v = '7'))
SELECT event_id, name AS metric_name,
  array_to_string(list_sort(
    CASE WHEN has_unit
         THEN [(CASE WHEN uid_key THEN 'uid=' ELSE 'user=' END) || user_v, 'unit=k']
         ELSE [(CASE WHEN uid_key THEN 'uid=' ELSE 'user=' END) || user_v] END), ',') AS labels_s,
  value
FROM m5"""

    o["events_props_json"] = (
        "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events"
    )

    o["uri_parse_fields"] = r"""
WITH u AS (SELECT doc_id,
  concat('https://', source, '.example.com/docs/', CAST(doc_id AS VARCHAR), '?lang=', lang) AS uri
FROM documents)
SELECT doc_id,
  regexp_extract(uri, '^([a-z]+)://', 1) AS uri_scheme,
  regexp_extract(uri, '://([^/]+)', 1) AS uri_host,
  regexp_extract(uri, '://[^/]+(/[^?]*)', 1) AS uri_path,
  regexp_extract(uri, '\?(.*)$', 1) AS uri_query
FROM u"""

    o["csv_parse_fields"] = """
WITH c AS (SELECT doc_id,
  concat(CAST(doc_id AS VARCHAR), ',', lang, ',', CAST(n_chars AS VARCHAR)) AS line
FROM documents)
SELECT doc_id,
  CAST(string_split(line, ',')[1] AS BIGINT) AS id,
  string_split(line, ',')[2] AS lang,
  CAST(string_split(line, ',')[3] AS BIGINT) AS n
FROM c"""

    from ..operators.parse import RFC3164_RE, RFC5424_RE

    # ground truth: sorted k=v is header-order independent by construction
    o["csv_parse_dynamic_header"] = """
SELECT doc_id,
  'id=' || CAST(doc_id AS VARCHAR) || ',lang=' || lang || ',n=' || CAST(n_chars AS VARCHAR) AS kv_sorted
FROM documents"""

    o["jsonarray_parse_fields"] = """
WITH j AS (SELECT doc_id,
  '["' || lang || '", "' || source || '", "' || CAST(n_chars AS VARCHAR) || '"]' AS line
FROM documents)
SELECT doc_id,
  json_extract_string(line, '$[0]') AS a0,
  json_extract_string(line, '$[1]') AS a1,
  CAST(json_extract_string(line, '$[2]') AS BIGINT) AS a2,
  CAST(json_array_length(line) AS BIGINT) AS n_elems
FROM j"""

    # ground truth constructed from the synthesis recipe, independent of any
    # UTF-8 repair implementation: each invalid byte becomes one U+FFFD
    o["sanitize_utf8_docs"] = """
WITH h AS (SELECT doc_id, substring(text, 1, 20) AS head FROM documents)
SELECT doc_id,
  (doc_id % 2 = 0) AS utf8_valid,
  CASE WHEN doc_id % 2 = 1 THEN head || chr(65533) || chr(65533) || ' tail'
       ELSE head END AS sanitized
FROM h"""

    sd_param = r'(\w+)="([^"]*)"'
    o["syslog_rfc5424_parse"] = f"""
WITH s AS (SELECT doc_id, source,
  substring(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'), 1, 40) AS msg,
  CASE WHEN doc_id % 3 = 0 THEN '-'
       ELSE '[ex@32473 lang="' || lang || '" n="' || CAST(n_chars AS VARCHAR) || '"]' END AS sd
FROM documents),
l AS (SELECT doc_id, sd,
  '<' || CAST(doc_id % 192 AS VARCHAR) || '>1 2024-01-02T03:04:05.000Z host'
      || CAST(doc_id % 5 AS VARCHAR) || ' app-' || source || ' '
      || CAST(1000 + doc_id % 100 AS VARCHAR) || ' ID' || CAST(doc_id % 10 AS VARCHAR)
      || ' ' || sd || ' ' || msg AS line
FROM s)
SELECT doc_id,
  CAST(regexp_extract(line, '{RFC5424_RE}', 1) AS INT) & 7 AS syslog_severity,
  CAST(regexp_extract(line, '{RFC5424_RE}', 1) AS INT) >> 3 AS syslog_facility,
  CAST(regexp_extract(line, '{RFC5424_RE}', 2) AS INT) AS syslog_version,
  regexp_extract(line, '{RFC5424_RE}', 3) AS syslog_ts,
  regexp_extract(line, '{RFC5424_RE}', 4) AS syslog_hostname,
  regexp_extract(line, '{RFC5424_RE}', 5) AS syslog_appname,
  regexp_extract(line, '{RFC5424_RE}', 6) AS syslog_procid,
  regexp_extract(line, '{RFC5424_RE}', 7) AS syslog_msgid,
  regexp_extract(sd, '^\\[([\\w@.-]+)', 1) AS syslog_sd_id,
  coalesce(array_to_string(list_sort(regexp_extract_all(sd, '{sd_param}')), ','), '') AS syslog_sd_params,
  regexp_extract(line, '{RFC5424_RE}', 9) AS syslog_message
FROM l"""

    o["syslog_rfc3164_parse"] = f"""
WITH s AS (SELECT doc_id,
  substring(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'), 1, 40) AS msg,
  '<' || CAST(doc_id % 192 AS VARCHAR) || '>Jan ' || CAST(10 + doc_id % 20 AS VARCHAR)
      || ' 03:04:05 host' || CAST(doc_id % 5 AS VARCHAR) || ' proc' || CAST(doc_id % 4 AS VARCHAR) AS base
FROM documents),
l AS (SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN base || '[' || CAST(doc_id % 1000 AS VARCHAR) || ']: ' || msg
       ELSE base || ': ' || msg END AS line
FROM s)
SELECT doc_id,
  CAST(regexp_extract(line, '{RFC3164_RE}', 1) AS INT) & 7 AS syslog_severity,
  CAST(regexp_extract(line, '{RFC3164_RE}', 1) AS INT) >> 3 AS syslog_facility,
  regexp_extract(line, '{RFC3164_RE}', 2) AS syslog_ts,
  regexp_extract(line, '{RFC3164_RE}', 3) AS syslog_hostname,
  regexp_extract(line, '{RFC3164_RE}', 4) AS syslog_tag,
  CAST(nullif(regexp_extract(line, '{RFC3164_RE}', 5), '') AS INT) AS syslog_pid,
  regexp_extract(line, '{RFC3164_RE}', 6) AS syslog_message
FROM l"""

    o["time_parse_fields"] = (
        cte
        + """
SELECT conv_id, turn_idx,
       epoch_us(strptime(log_ts, '%Y-%m-%dT%H:%M:%S')) AS event_ts_us
FROM ordered WHERE pattern_id = 'syslog'"""
    )

    # ground truth from the synthesis recipe (DuckDB has no XML engine)
    o["xml_parse_fields"] = """
SELECT doc_id,
  lang AS xml_lang,
  source AS xml_src,
  CAST(n_chars AS BIGINT) AS xml_n,
  nullif(trim(substring(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'), 1, 20)), '') AS xml_body,
  CAST(n_chars AS BIGINT) AS xpath_n
FROM documents"""

    from ..operators.parse import TRACEPARENT_RE

    o["traceparent_parse"] = f"""
WITH t AS (SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN 'garbage'
       ELSE '00-' || md5(text) || '-' || substr(md5(text), 1, 16) || '-0' || CAST(doc_id % 2 AS VARCHAR)
  END AS tp
FROM documents),
x AS (SELECT doc_id,
  nullif(regexp_extract(lower(trim(tp)), '{TRACEPARENT_RE}', 2), '') AS trace_id,
  nullif(regexp_extract(lower(trim(tp)), '{TRACEPARENT_RE}', 3), '') AS span_id,
  nullif(regexp_extract(lower(trim(tp)), '{TRACEPARENT_RE}', 4), '') AS flags
FROM t)
SELECT doc_id, trace_id, span_id,
  CAST(('0x' || flags)::BIGINT AS INT) AS trace_flags,
  (CAST(('0x' || flags)::BIGINT AS INT) & 1) = 1 AS trace_sampled
FROM x"""

    o["adaptive_head_sample"] = (
        cte
        + """,
ranked AS (
  SELECT conv_id, turn_idx, pattern_id,
    row_number() OVER (PARTITION BY pattern_id
      ORDER BY CAST('0x' || substr(md5(conv_id || chr(1) || CAST(turn_idx AS VARCHAR)), 1, 15) AS BIGINT) ASC,
               conv_id, turn_idx) AS rn
  FROM ordered)
SELECT conv_id, turn_idx, pattern_id FROM ranked WHERE rn <= 500"""
    )

    # label-value merge realized by the downstream aggregation; toggle =
    # truncate-toward-zero (DuckDB CAST(double AS BIGINT) rounds, so trunc())
    o["events_metrics_label_merge"] = """
WITH m AS (SELECT event_type AS name, CAST(user_id % 10 AS VARCHAR) AS user_v, value FROM events),
r AS (SELECT name,
        CASE WHEN name = 'click' AND user_v IN ('1','2','3') THEN 'low' ELSE user_v END AS user_v,
        CASE WHEN name = 'view' THEN CAST(CAST(trunc(value) AS BIGINT) AS DOUBLE) ELSE value END AS value
      FROM m)
SELECT name AS metric_name, user_v,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM r GROUP BY 1, 2"""

    # ground truth: the two frames are known from the synthesis recipe
    o["syslog_octet_frames"] = """
WITH f AS (SELECT doc_id,
  '<34>1 2024-01-02T03:04:05Z h a p m - hello ' || CAST(doc_id AS VARCHAR) AS f1,
  'second ' || lang AS f2
FROM documents)
SELECT doc_id, 0 AS frame_idx, f1 AS frame FROM f
UNION ALL
SELECT doc_id, 1 AS frame_idx, f2 AS frame FROM f"""

    o["kv_parse_map"] = (
        cte
        + r"""
SELECT conv_id, turn_idx,
  array_to_string(list_sort(regexp_split_to_array(substring(text, 5), ' ')), ',') AS kv_sorted
FROM ordered WHERE pattern_id = 'kv'"""
    )

    o["genai_normalize"] = (
        cte
        + """
SELECT conv_id, turn_idx,
       model AS gen_ai_request_model,
       tokens AS gen_ai_usage_output_tokens,
       CASE event_name WHEN 'tool_call' THEN 'execute_tool'
                       WHEN 'completion' THEN 'chat'
                       WHEN 'handoff' THEN 'invoke_agent'
                       WHEN 'retry' THEN 'chat'
                       ELSE event_name END AS gen_ai_operation_name,
       tool AS gen_ai_tool_name
FROM ordered WHERE pattern_id = 'json'"""
    )

    # drain mask chain — must mirror operators/templates.DEFAULT_MASKS order
    masked = "text"
    for pat, rep in [
        (r"0x[0-9a-fA-F]+", "<*>"),
        (r"\b\d+\.\d+\.\d+\.\d+\b", "<*>"),
        (r"\b[0-9a-f]{8,}\b", "<*>"),
        (r"\d+", "<*>"),
        (r'"[^"]*"', "<*>"),
    ]:
        masked = f"regexp_replace({masked}, '{pat}', '{rep}', 'g')"
    # mirrors q_ottl_editors: limit-3 slice first (truncate commutes with
    # limit), then per-entry value truncation, then key-pattern delete
    o["ottl_editors"] = (
        cte
        + r""",
kvr AS (SELECT conv_id, turn_idx, text, status,
               regexp_split_to_array(substring(text, 5), ' ') AS toks
        FROM ordered WHERE pattern_id = 'kv'),
ed AS (SELECT conv_id, turn_idx,
              'logs' AS pipeline,
              CASE WHEN status = 'err' THEN regexp_replace(text, '[0-9]+', '#', 'g')
                   ELSE text END AS masked,
              list_filter(
                list_transform(toks[1:3],
                  t -> split_part(t, '=', 1) || '=' || substr(split_part(t, '=', 2), 1, 6)),
                t -> NOT regexp_matches(split_part(t, '=', 1), '^lat')) AS kvt
       FROM kvr)
SELECT conv_id, turn_idx, pipeline, masked,
       array_to_string(list_sort(kvt), ',') AS kv_edited
FROM ed"""
    )

    o["ottl_editors_full"] = (
        cte
        + r""",
kvr AS (SELECT conv_id, turn_idx, text, status, latency_ms,
               string_split(text, ' ') AS toks
        FROM ordered WHERE pattern_id = 'kv')
SELECT conv_id, turn_idx,
       CASE WHEN status = 'err'
            THEN array_to_string(toks[2:], ' ')
            ELSE text END AS toks_joined,
       array_to_string(toks[1:4], ' ') AS nest_flat,
       'lat=' || CAST(latency_ms AS VARCHAR)
         || ',turn=' || CAST(turn_idx AS VARCHAR) AS nums_csv
FROM kvr"""
    )

    # two-pass Drain convergence mirrored in SQL: mask classes, then merge
    # word positions whose distinct-count within the (token-count, first-
    # token) cluster exceeds the threshold (operators/templates.py
    # drain_templates; threshold 3). Positions are 0-based on both sides.
    o["drain_templates"] = (
        cte
        + f""",
m AS (SELECT text, {masked} AS masked FROM ordered),
tk AS (SELECT text, masked,
         list_filter(regexp_split_to_array(trim(masked), '\\s+'), x -> x <> '') AS toks
       FROM m),
b AS (SELECT text, toks, len(toks) AS n, coalesce(toks[1], '') AS head FROM tk),
e AS (SELECT n, head, i - 1 AS pos, toks[i] AS tok
      FROM (SELECT n, head, toks, unnest(generate_series(1, len(toks))) AS i FROM b)),
s AS (SELECT n, head, pos, count(DISTINCT tok) AS nd FROM e GROUP BY 1, 2, 3),
v AS (SELECT n, head, list(pos) FILTER (WHERE nd > 3) AS vp FROM s GROUP BY 1, 2),
j AS (SELECT b.text, b.toks, b.n, coalesce(v.vp, []) AS vp
      FROM b LEFT JOIN v ON b.n = v.n AND b.head = v.head),
r AS (SELECT text,
        array_to_string(list_transform(generate_series(1, n),
          i -> CASE WHEN list_contains(vp, i - 1) THEN '<*>' ELSE toks[i] END), ' ') AS template
      FROM j)
SELECT template, count(*) AS match_count, min(text) AS example
FROM r GROUP BY 1"""
    )

    o["template_window_diff"] = (
        cte
        + f""",
m AS (SELECT {masked} AS template, (hour(ts) >= 12) AS cur FROM ordered),
c AS (SELECT template,
        CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM m GROUP BY 1)
SELECT template, n_ref, n_cur,
  CASE WHEN n_ref = 0 THEN 'new' WHEN n_cur = 0 THEN 'gone'
       WHEN n_cur > n_ref THEN 'grew' WHEN n_cur < n_ref THEN 'shrank'
       ELSE 'stable' END AS status,
  CASE WHEN n_ref > 0 THEN round(n_cur / CAST(n_ref AS DOUBLE), 6) END AS ratio
FROM c WHERE n_ref + n_cur >= 3"""
    )

    o["cardinality_guard"] = (
        cte
        + """,
g AS (
  SELECT 'conv_id' AS key, count(DISTINCT conv_id) AS distinct_count FROM ordered
  UNION ALL
  SELECT 'role', count(DISTINCT role) FROM ordered
  UNION ALL
  SELECT 'tool', count(DISTINCT tool) FROM ordered)
SELECT key, distinct_count, distinct_count > 100 AS over_limit FROM g"""
    )

    o["metrics_generation_ratio"] = """
WITH e AS (SELECT *,
  CAST(floor(epoch_us(ts) / (3600 * CAST(1000000 AS BIGINT))) AS BIGINT) * 3600 AS hour_start
  FROM events),
g AS (SELECT hour_start,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS num_total,
  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS den_total
  FROM e GROUP BY 1)
SELECT hour_start, num_total, den_total,
  CASE WHEN den_total <> 0
       THEN round(CAST(num_total AS DOUBLE) / CAST(den_total AS DOUBLE), 6) END AS ratio
FROM g"""

    o["events_active_users_hourly"] = f"""
SELECT {win3600} AS hour_start, count(DISTINCT user_id) AS active_users
FROM events GROUP BY 1"""

    o["events_anomaly_scores"] = """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1),
wm AS (SELECT e.*, med.m FROM events e JOIN med USING (event_type)),
mad AS (SELECT event_type, quantile_cont(abs(value - m), 0.5) AS d FROM wm GROUP BY 1),
s AS (SELECT wm.event_id, wm.event_type,
        CASE WHEN mad.d > 0 THEN round(0.6745 * (wm.value - wm.m) / mad.d, 6) END AS anomaly_score
      FROM wm JOIN mad USING (event_type))
SELECT event_id, event_type, anomaly_score,
       coalesce(abs(anomaly_score) > 3.5, false) AS is_anomaly
FROM s"""

    from ..operators.iforest import score_sql

    _ifs = score_sql(_iforest(), ["f0", "f1"])
    o["events_isolation_forest"] = f"""
WITH feats AS (SELECT event_id, CAST(value AS DOUBLE) AS f0, CAST(hour(ts) AS DOUBLE) AS f1
               FROM events),
scored AS (SELECT event_id, {_ifs} AS if_score FROM feats)
SELECT event_id, if_score, if_score > 0.6 AS is_anomaly FROM scored"""

    o["service_graph_edges"] = (
        cte
        + """,
lagged AS (SELECT conv_id, role,
                  lag(role) OVER (PARTITION BY conv_id ORDER BY turn_rn) AS caller
           FROM ordered)
SELECT caller, role AS callee, count(*) AS call_count
FROM lagged WHERE caller IS NOT NULL GROUP BY 1, 2"""
    )

    o["recombine_user_segments"] = (
        cte
        + """,
seg AS (SELECT conv_id, turn_rn, text,
               CASE WHEN role = 'user' THEN 1 ELSE 0 END AS f
        FROM ordered),
runs AS (SELECT conv_id, turn_rn, text,
                -- DuckDB's sum(int) OVER yields HUGEINT; Spark yields BIGINT.
                -- Values identical, type matters to the driver hash.
                CAST(sum(f) OVER (PARTITION BY conv_id ORDER BY turn_rn) AS BIGINT) AS run_id
         FROM seg)
SELECT conv_id, run_id,
       string_agg(text, chr(10) ORDER BY turn_rn) AS combined,
       count(*) AS n_lines, min(turn_rn) AS first_order, max(turn_rn) AS last_order
FROM runs GROUP BY 1, 2"""
    )

    o["group_by_trace_transcripts"] = (
        cte
        + """
SELECT conv_id, count(*) AS n_turns,
       string_agg(text, chr(10) ORDER BY turn_idx) AS transcript,
       min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us
FROM ordered GROUP BY 1"""
    )

    o["tail_sampling_verdicts"] = (
        cte
        + """
SELECT conv_id,
       coalesce(bool_or(status = 'err'), false) AS has_error,
       coalesce(sum(latency_ms), 0) > 10000 AS high_latency,
       count(*) >= 100 AS many_turns,
       (coalesce(bool_or(status = 'err'), false)
        OR coalesce(sum(latency_ms), 0) > 10000
        OR count(*) >= 100) AS sampled
FROM ordered GROUP BY 1"""
    )

    # mirrors q_tail_sampling_policies / operators.recombine.tail_sampling_policies
    o["tail_sampling_policies"] = (
        cte
        + f""",
agg AS (
  SELECT conv_id,
    (max(epoch_us(ts)) - min(epoch_us(ts))) >= {600_000 * 1000} AS slow,
    coalesce(bool_or(status IN ('err')), false) AS errs,
    count(*) >= 100 AS big,
    min(CAST('0x' || substr(md5(conv_id), 1, 15) AS BIGINT)) < {_p60(10.0)} AS lucky,
    coalesce(bool_or(latency_ms >= 9000), false) AS slow_turn,
    coalesce(bool_or(tool IN ('search', 'web')), false) AS searchy,
    min(CAST('0x' || substr(md5(conv_id), 1, 15) AS BIGINT)) < {_p60(3.0)} AS dropper,
    CAST(floor(min(epoch_us(ts)) / 60000000) AS BIGINT) AS _minute
  FROM ordered GROUP BY conv_id),
combo AS (
  SELECT *, (errs AND searchy) AS err_search, dropper AS drop_unlucky FROM agg),
verdict AS (
  SELECT *, ((slow OR errs OR big OR lucky OR err_search) AND NOT drop_unlucky) AS sampled
  FROM combo),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY _minute, sampled ORDER BY conv_id) AS _rn
  FROM verdict)
SELECT conv_id, slow, errs, big, lucky, slow_turn, searchy, dropper,
       err_search, drop_unlucky, sampled,
       (sampled AND _rn <= 5) AS final_sampled
FROM ranked"""
    )

    o["sampler_hash_consistent"] = (
        cte
        + f"""
SELECT conv_id, turn_idx, route_id FROM ordered
WHERE CAST('0x' || substr(md5(conv_id), 1, 15) AS BIGINT) < {_p60(25.0)}"""
    )

    o["sampler_deterministic_mod"] = (
        cte
        + r"""
SELECT conv_id, turn_idx, route_id FROM ordered
WHERE CAST(regexp_extract(conv_id, '(\d+)$', 1) AS BIGINT) % 10 < 3"""
    )

    dim_values = ", ".join(
        f"('{rg}', '{tc}', '{tier}', {w})" for rg, tc, tier, w in SESSION_TIER_DIM
    )
    o["enrich_composite_dim"] = (
        cte
        + f""",
d(role_group, tool_category, session_tier, tier_weight) AS (VALUES {dim_values})
SELECT o.conv_id, o.turn_idx, o.role_group, o.tool_category,
       coalesce(d.session_tier, 'tier-z') AS session_tier,
       coalesce(CAST(d.tier_weight AS DOUBLE), 0.0) AS tier_weight
FROM ordered o
LEFT JOIN d ON d.role_group = o.role_group AND d.tool_category = o.tool_category"""
    )

    # SCD2: the versioned-dim replay is pure window SQL, so the oracle
    # runs the identical collapse; floor(double) is integral, so DuckDB's
    # round-on-cast equals Spark's truncate-on-cast.
    def _scd2_sql(where: str = "") -> str:
        return f"""
WITH ch AS (
  SELECT user_id AS entity_id, event_id AS seq, epoch_us(ts) AS valid_from,
         event_type AS tier, CAST(floor(value) AS BIGINT) % 7 AS region
  FROM events{where}
),
flagged AS (
  SELECT entity_id, tier, region, valid_from, seq,
         lag(seq) OVER w IS NULL AS frst,
         lag(tier) OVER w AS p_tier, lag(region) OVER w AS p_region
  FROM ch WINDOW w AS (PARTITION BY entity_id ORDER BY valid_from, seq)
),
vers AS (
  SELECT entity_id, tier, region, valid_from, seq FROM flagged
  WHERE frst OR p_tier IS DISTINCT FROM tier OR p_region IS DISTINCT FROM region
)
SELECT entity_id, tier, region, valid_from,
       lead(valid_from) OVER (PARTITION BY entity_id ORDER BY valid_from, seq) AS valid_to,
       seq
FROM vers"""

    o["enrich_scd2_dim"] = _scd2_sql()
    # incremental merge must equal the FULL replay — that equality IS the
    # maintenance contract under test.
    o["enrich_scd2_incremental"] = _scd2_sql()
    o["enrich_scd2_lookup"] = (
        "WITH vers AS ("
        + _scd2_sql(" WHERE event_id % 10 <> 7")
        + """
)
SELECT f.event_id, f.entity_id, f.event_us, v.tier, v.region,
       v.valid_from AS version_from
FROM (SELECT event_id, user_id AS entity_id, epoch_us(ts) AS event_us
      FROM events WHERE event_id % 10 = 7) f
LEFT JOIN vers v
  ON v.entity_id = f.entity_id AND f.event_us >= v.valid_from
 AND (v.valid_to IS NULL OR f.event_us < v.valid_to)"""
    )

    # geoip: same ip derivation + block table built from range(); the
    # oracle can afford the plain range join (DuckDB IEJoin) the Spark
    # side avoids via prefix bucketing
    _oct = "CAST(string_split({x}, '.')[{i}] AS BIGINT)"
    _ip_long = " + ".join(
        f"{_oct.format(x='client_ip', i=i)} * {mul}"
        for i, mul in ((1, 16777216), (2, 65536), (3, 256), (4, 1))
    )
    _ip_valid = r"regexp_matches(client_ip, '^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$') AND " + " AND ".join(
        f"{_oct.format(x='client_ip', i=i)} <= 255" for i in (1, 2, 3, 4)
    )
    _net_long = " + ".join(
        f"{_oct.format(x='net', i=i)} * {mul}"
        for i, mul in ((1, 16777216), (2, 65536), (3, 256), (4, 1))
    )
    o["geoip_enrich"] = f"""
WITH ips AS (
  SELECT event_id,
    CASE WHEN event_id % 50 = 49 THEN 'not-an-ip'
         WHEN event_id % 50 = 48 THEN '10.7.0.300'
         WHEN event_id % 50 = 47 THEN '240.1.2.3'
         WHEN (event_id % 50) % 5 = 3 THEN '11.' || CAST(event_id % 256 AS VARCHAR) || '.33.7'
         ELSE '10.' || CAST(event_id % 200 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR)
              || '.' || CAST((event_id * 7) % 256 AS VARCHAR)
    END AS client_ip
  FROM events),
parsed AS (
  SELECT event_id, client_ip,
    CASE WHEN {_ip_valid} THEN {_ip_long} END AS ip_long
  FROM ips),
blocks AS (
  SELECT '10.' || CAST(i AS VARCHAR) || '.0.0' AS net, 16 AS prefix,
         'C' || CAST(i % 10 AS VARCHAR) AS geo_country_iso,
         'city-' || CAST(i AS VARCHAR) AS geo_city_name
  FROM range(200) t(i)
  UNION ALL SELECT '11.0.0.0', 8, 'XX', 'wide-net'),
branges AS (
  SELECT geo_country_iso, geo_city_name,
    ({_net_long}) // CAST(power(2, 32 - prefix) AS BIGINT) * CAST(power(2, 32 - prefix) AS BIGINT) AS s,
    CAST(power(2, 32 - prefix) AS BIGINT) AS span
  FROM blocks)
SELECT p.event_id, p.client_ip, b.geo_country_iso, b.geo_city_name
FROM parsed p
LEFT JOIN branges b ON p.ip_long >= b.s AND p.ip_long <= b.s + b.span - 1"""

    o["attr_actions"] = (
        cte
        + """
SELECT conv_id, turn_idx,
       'logs' AS pipeline,
       coalesce(status, 'unset') AS status,
       sha256(tool) AS tool_sha,
       CAST(latency_ms AS DOUBLE) AS latency_ms
FROM ordered"""
    )

    o["redaction_mask"] = (
        cte
        + r"""
SELECT conv_id, turn_idx, regexp_replace(text, '\d+', '#', 'g') AS text
FROM ordered"""
    )

    o["unroll_tokens"] = (
        cte
        + r"""
SELECT conv_id, turn_idx,
       unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')) AS element
FROM ordered WHERE pattern_id = 'raw'"""
    )

    o["events_value_drift"] = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS x,
         ts >= TIMESTAMP '2024-01-16' AS cur
  FROM events WHERE value IS NOT NULL
),
bounds AS (SELECT min(x) AS mn, max(x) AS mx FROM base),
bk AS (
  SELECT CAST(CASE WHEN b.mx = b.mn THEN 0
              ELSE least(CAST(floor((x - b.mn) / ((b.mx - b.mn) / 10)) AS INT), 9)
         END AS INT) AS bucket, cur
  FROM base, bounds b
),
counts AS (
  SELECT bucket,
    CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM bk GROUP BY bucket
),
tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref, CAST(sum(n_cur) AS BIGINT) AS t_cur FROM counts)
SELECT 'value' AS feature, bucket, n_ref, n_cur,
  round(greatest(n_ref / CAST(t_ref AS DOUBLE), 1e-6), 6) AS p_ref,
  round(greatest(n_cur / CAST(t_cur AS DOUBLE), 1e-6), 6) AS p_cur,
  round((greatest(n_cur / CAST(t_cur AS DOUBLE), 1e-6) - greatest(n_ref / CAST(t_ref AS DOUBLE), 1e-6))
        * (ln(greatest(n_cur / CAST(t_cur AS DOUBLE), 1e-6)) - ln(greatest(n_ref / CAST(t_ref AS DOUBLE), 1e-6))), 6) AS psi_term
FROM counts, tot"""

    o["events_value_ks"] = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS x,
         ts >= TIMESTAMP '2024-01-16' AS cur
  FROM events WHERE value IS NOT NULL
),
b AS (SELECT min(x) AS mn, max(x) AS mx FROM base),
cells AS (
  SELECT CAST(CASE WHEN b.mx = b.mn THEN 0
              ELSE least(CAST(floor((x - b.mn) / ((b.mx - b.mn) / 10000)) AS INT), 9999)
         END AS INT) AS cell, cur
  FROM base, b
),
counts AS (
  SELECT cell,
    CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM cells GROUP BY cell
),
d AS (
  SELECT cell, n_ref, n_cur,
    sum(n_ref) OVER (ORDER BY cell) / CAST((SELECT sum(n_ref) FROM counts) AS DOUBLE)
    - sum(n_cur) OVER (ORDER BY cell) / CAST((SELECT sum(n_cur) FROM counts) AS DOUBLE) AS gap
  FROM counts
),
m AS (SELECT max(abs(gap)) AS mg FROM d)
SELECT 'value' AS feature,
  CAST(sum(n_ref) AS BIGINT) AS n_ref,
  CAST(sum(n_cur) AS BIGINT) AS n_cur,
  round((SELECT mg FROM m), 6) AS ks_stat,
  (SELECT min(cell) FROM d, m WHERE abs(gap) = mg) AS ks_at
FROM counts"""

    o["tool_slo_report"] = (
        cte
        + """
SELECT tool,
  count(*) AS n_calls,
  CAST(sum(CASE WHEN status = 'err' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
  round(sum(CASE WHEN status = 'err' THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS err_rate,
  round(quantile_cont(latency_ms, 0.5), 6) AS p50_ms,
  round(quantile_cont(latency_ms, 0.95), 6) AS p95_ms,
  round(quantile_cont(latency_ms, 0.99), 6) AS p99_ms
FROM ordered
WHERE tool <> 'none' AND status IS NOT NULL AND latency_ms IS NOT NULL
GROUP BY tool"""
    )

    o["events_funnel"] = """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS step1_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS step2_us
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.step1_us
    AND epoch_us(e.ts) <= s1.step1_us + 604800000000
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS step3_us
  FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.step2_us
    AND epoch_us(e.ts) <= s1.step1_us + 604800000000
  GROUP BY e.user_id
)
SELECT s1.user_id, step1_us, step2_us, step3_us,
  CAST(1 + CASE WHEN step2_us IS NULL THEN 0 ELSE 1 END
         + CASE WHEN step3_us IS NULL THEN 0 ELSE 1 END AS INT) AS n_steps,
  step3_us IS NOT NULL AS converted
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""

    o["events_cohorts"] = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week FROM events
)
SELECT cohort_week,
  CAST((epoch(act_week) - epoch(cohort_week)) / 604800 AS INT) AS week_offset,
  count(*) AS n_active
FROM active JOIN first USING (user_id)
GROUP BY cohort_week, week_offset"""

    o["events_twa"] = """
WITH s AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         epoch_us(ts) AS us, value AS v
  FROM events
),
g AS (
  SELECT *, lead(us) OVER (PARTITION BY user_id, day ORDER BY us) - us AS w_us
  FROM s
),
a AS (
  SELECT user_id, day,
    sum(CAST(v AS DECIMAL(18,6)) * CAST(w_us AS DECIMAL(20,0))) AS sum_vw,
    CAST(sum(w_us) AS BIGINT) AS sum_w
  FROM g WHERE w_us IS NOT NULL
  GROUP BY user_id, day
)
SELECT user_id, day,
  round(CAST(sum_vw AS DOUBLE) / CAST(sum_w AS DOUBLE), 6) AS twa,
  sum_w AS covered_us
FROM a"""

    o["service_graph_pagerank"] = (
        cte
        + """,
lagged AS (SELECT conv_id, role,
                  lag(role) OVER (PARTITION BY conv_id ORDER BY turn_rn) AS caller
           FROM ordered),
e AS (SELECT caller AS src, role AS dst, CAST(count(*) AS BIGINT) AS w
      FROM lagged WHERE caller IS NOT NULL GROUP BY 1, 2),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
nstat AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY src),
share AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / ow.out_w AS frac
          FROM e JOIN ow USING (src)),
pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT nn FROM nstat) AS pr FROM nodes),
pr1 AS (
  SELECT n.node,
    ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nn FROM nstat))
      + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes n LEFT JOIN (
    SELECT dst AS node, list_sum(list(c ORDER BY src)) AS in_sum
    FROM (
      SELECT sh.dst, sh.src, p.pr * sh.frac AS c
      FROM share sh JOIN pr0 p ON p.node = sh.src
    ) GROUP BY dst
  ) s USING (node)
),
pr2 AS (
  SELECT n.node,
    ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nn FROM nstat))
      + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes n LEFT JOIN (
    SELECT dst AS node, list_sum(list(c ORDER BY src)) AS in_sum
    FROM (
      SELECT sh.dst, sh.src, p.pr * sh.frac AS c
      FROM share sh JOIN pr1 p ON p.node = sh.src
    ) GROUP BY dst
  ) s USING (node)
),
pr3 AS (
  SELECT n.node,
    ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nn FROM nstat))
      + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes n LEFT JOIN (
    SELECT dst AS node, list_sum(list(c ORDER BY src)) AS in_sum
    FROM (
      SELECT sh.dst, sh.src, p.pr * sh.frac AS c
      FROM share sh JOIN pr2 p ON p.node = sh.src
    ) GROUP BY dst
  ) s USING (node)
)
SELECT node, round(pr, 6) AS pagerank FROM pr3"""
    )

    o["events_seasonal_baseline"] = """
WITH base AS (
  SELECT event_type AS key, CAST(hour(ts) AS INT) AS hod,
    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
    CAST(value AS DECIMAL(18,6)) AS v
  FROM events
),
daily AS (
  SELECT key, hod, day,
    CAST(sum(v) AS DOUBLE) / count(*) AS day_mean,
    count(*) AS n_events
  FROM base GROUP BY key, hod, day
),
med AS (
  SELECT key, hod, quantile_cont(day_mean, 0.5) AS baseline
  FROM daily GROUP BY key, hod
)
SELECT daily.key AS event_type, hod, day, n_events,
  round(day_mean, 6) AS day_mean,
  round(baseline, 6) AS baseline,
  round(day_mean / baseline, 6) AS deviation
FROM daily JOIN med USING (key, hod)"""

    o["events_transition_matrix"] = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         event_type AS dst
  FROM events
),
counts AS (
  SELECT src, dst, count(*) AS n FROM pairs WHERE src IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
  round(n / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
FROM counts"""

    o["pipeline_quarantine"] = (
        cte
        + """
SELECT conv_id, turn_idx,
  CASE WHEN pattern_id = 'raw' THEN 'unparsed'
       WHEN tool <> 'none' AND status IS NULL THEN 'missing_tool_status'
  END AS error_reason
FROM ordered
WHERE pattern_id = 'raw' OR (tool <> 'none' AND status IS NULL)"""
    )

    o["ottl_showcase"] = (
        cte
        + """
SELECT conv_id, turn_idx,
       concat_ws('-', role, tool) AS role_tool,
       upper(role) AS role_up,
       substring(text, 1, 10) AS text_head,
       length(text) AS text_len,
       regexp_matches(text, '^LOG ') AS is_log,
       epoch_us(date_trunc('hour', ts)) AS hour_us,
       year(ts) AS y, hour(ts) AS h,
       sha256(role) AS role_sha,
       coalesce(status, 'none') AS status_c
FROM ordered"""
    )

    o["severity_http_parse"] = """
WITH c AS (SELECT doc_id,
  CASE WHEN doc_id % 11 = 0 THEN 'oops'
       ELSE CAST(200 + doc_id % 400 AS VARCHAR) END AS code
FROM documents),
m AS (SELECT doc_id,
  CASE WHEN regexp_matches(code, '^\\d+$') AND CAST(code AS INT) BETWEEN 200 AND 299 THEN 'INFO'
       WHEN regexp_matches(code, '^\\d+$') AND CAST(code AS INT) BETWEEN 300 AND 399 THEN 'WARN'
       WHEN (regexp_matches(code, '^\\d+$') AND CAST(code AS INT) BETWEEN 400 AND 499) OR lower(code) = 'oops' THEN 'ERROR'
       WHEN regexp_matches(code, '^\\d+$') AND CAST(code AS INT) BETWEEN 500 AND 599 THEN 'FATAL'
  END AS severity_text
FROM c)
SELECT doc_id, severity_text,
  CASE severity_text WHEN 'TRACE' THEN 1 WHEN 'DEBUG' THEN 5 WHEN 'INFO' THEN 9
       WHEN 'WARN' THEN 13 WHEN 'ERROR' THEN 17 WHEN 'FATAL' THEN 21 ELSE 0 END AS severity_number
FROM m"""

    o["filter_match_gate"] = (
        cte
        + """
SELECT conv_id, turn_idx, role, route_id
FROM ordered
WHERE regexp_matches(role, '^(user|assistant)$')
  AND NOT coalesce(status = 'err', FALSE)"""
    )

    o["otlpjson_parse"] = """
SELECT doc_id,
  source AS resource_source,
  'scope' || CAST(doc_id % 3 AS VARCHAR) AS scope_name,
  doc_id * 1000 AS time_unix_nano,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'DEBUG' WHEN 1 THEN 'INFO'
       WHEN 2 THEN 'WARN' ELSE 'ERROR' END AS severity_text,
  9 AS severity_number,
  substring(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'), 1, 30) AS body,
  CAST(n_chars AS VARCHAR) AS attr_n
FROM documents
WHERE doc_id % 13 <> 0"""

    o["otlpjson_traces"] = """
SELECT doc_id,
  source AS resource_source,
  'scope' || CAST(doc_id % 3 AS VARCHAR) AS scope_name,
  md5(CAST(doc_id AS VARCHAR)) AS trace_id,
  substring(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS span_id,
  'op-' || CAST(doc_id % 7 AS VARCHAR) AS span_name,
  CAST(2 AS INT) AS span_kind,
  doc_id * 1000 AS start_unix_nano,
  doc_id * 1000 + 500 AS end_unix_nano,
  CAST(n_chars AS VARCHAR) AS attr_n,
  CAST(doc_id % 3 AS INT) AS status_code
FROM documents
WHERE doc_id % 13 <> 0"""

    o["otlpjson_metrics"] = """
SELECT doc_id,
  source AS resource_source,
  'scope' || CAST(doc_id % 3 AS VARCHAR) AS scope_name,
  'm' || CAST(doc_id % 4 AS VARCHAR) AS metric_name,
  '1' AS metric_unit,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'gauge' WHEN 1 THEN 'sum'
       ELSE 'histogram' END AS metric_type,
  doc_id * 1000 AS time_unix_nano,
  CASE WHEN doc_id % 3 = 0 THEN n_chars END AS value_int,
  CASE WHEN doc_id % 3 = 1 THEN CAST(n_chars + 0.5 AS DOUBLE) END AS value_double,
  CASE WHEN doc_id % 3 = 2 THEN CAST(5 AS BIGINT) END AS histogram_count,
  CASE WHEN doc_id % 3 = 2 THEN CAST(n_chars + 0.5 AS DOUBLE) END AS histogram_sum,
  CASE WHEN doc_id % 3 = 2 THEN [CAST(1 AS BIGINT), CAST(4 AS BIGINT)] END AS bucket_counts,
  CASE WHEN doc_id % 3 = 2 THEN [CAST(0.5 AS DOUBLE)] END AS explicit_bounds
FROM documents
WHERE doc_id % 13 <> 0"""

    o["ottl_lambdas"] = r"""
WITH tk AS (SELECT doc_id,
  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
FROM documents)
SELECT doc_id,
  array_to_string(list_filter(toks, x -> length(x) > 4), ' ') AS long_toks_s,
  array_to_string(list_transform(generate_series(1, least(len(toks), 8)),
    i -> CAST(i - 1 AS VARCHAR) || ':' || toks[i]), ' ') AS idx_toks_s,
  len(list_filter(toks, x -> length(x) > 5)) > 0 AS has_long,
  len(list_filter(toks, x -> length(x) >= 6)) = 0 AS all_short,
  CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS len_sum
FROM tk"""

    # grok: the SAME compiled portable regex runs under DuckDB RE2 —
    # extraction per group index, '' → NULL, typed casts mirrored.
    from ..operators.grok import compile_grok

    _cg = compile_grok(_GROK_LINE_PAT, _GROK_LINE_DEFS)
    _rx = _cg.regex.replace("'", "''")
    _duck_t = {"bigint": "BIGINT", "double": "DOUBLE", "boolean": "BOOLEAN", "string": "VARCHAR"}
    _grok_cols = ",\n  ".join(
        f"CAST(CASE WHEN regexp_matches(line, '{_rx}') THEN nullif(regexp_extract(line, '{_rx}', {i}), '') END"
        f" AS {_duck_t[t]}) AS {f}"
        for f, i, t in _cg.fields
    )
    o["grok_parse_fields"] = f"""
WITH s AS (SELECT doc_id, source, lang, n_chars,
  substring(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'), 1, 30) AS msg,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'info' WHEN 1 THEN 'WARN' WHEN 2 THEN 'error' ELSE 'DEBUG' END AS lvl
FROM documents),
l AS (SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN 'garbage ' || msg
       ELSE '2024-03-04T05:06:0' || CAST(doc_id % 10 AS VARCHAR)
         || ' [' || lvl || '] h' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.com GET /api/v' || CAST(doc_id % 3 AS VARCHAR)
         || '/' || source || ' latency=' || CAST(n_chars AS VARCHAR) || ' ' || msg
  END AS line
FROM s)
SELECT doc_id,
  {_grok_cols}
FROM l"""

    # --- prometheus relabel_configs chain ---------------------------------
    # hashmod: uint64_be(md5[8:16]) % 8 == (last hex digit) % 8, because
    # 16 ≡ 0 (mod 8) — the oracle exploits the fixed modulus; the Spark
    # operator computes the full DECIMAL(38,0) value.
    o["prom_relabel_pipeline"] = """
WITH base AS (
  SELECT event_id AS e,
    '10.0.' || CAST(event_id % 200 AS VARCHAR) || '.' || CAST(user_id AS VARCHAR) || ':9100' AS addr,
    CASE WHEN event_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
    'ns-' || CAST(event_id % 5 AS VARCHAR) AS ns,
    'pod-' || CAST(event_id % 7 AS VARCHAR) AS pod,
    CASE WHEN event_id % 3 <> 0 THEN 'Web' || CAST(event_id % 4 AS VARCHAR) END AS app_raw
  FROM events),
kept AS (
  SELECT * FROM base
  WHERE (strpos('0123456789abcdef', substr(md5(addr), 32, 1)) - 1) % 8 <= 5
    AND e % 11 <> 0),
fin AS (
  SELECT e, list_sort(list_filter([
      '__address__=' || addr,
      '__scheme__=' || scheme,
      'job=' || ns || '/' || pod,
      CASE WHEN app_raw IS NOT NULL THEN 'app=' || lower(app_raw) END,
      CASE WHEN app_raw IS NOT NULL THEN 'tier=t' || CAST(e % 4 AS VARCHAR) END,
      'k8s_namespace=' || ns,
      'k8s_pod_name=' || pod,
      CASE WHEN app_raw IS NOT NULL THEN 'k8s_pod_label_App=' || app_raw END,
      'scheme_uc=' || upper(scheme)
    ], x -> x IS NOT NULL)) AS lbls
  FROM kept)
SELECT e AS event_id, array_to_string(lbls, ',') AS labels FROM fin"""

    o["prom_relabel_columnar"] = """
WITH base AS (
  SELECT event_id AS e,
    '10.0.' || CAST(event_id % 200 AS VARCHAR) || '.' || CAST(user_id AS VARCHAR) || ':9100' AS addr,
    CASE WHEN event_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
    'ns-' || CAST(event_id % 5 AS VARCHAR) AS ns,
    'pod-' || CAST(event_id % 7 AS VARCHAR) AS pod,
    CASE WHEN event_id % 3 <> 0 THEN 'Web' || CAST(event_id % 4 AS VARCHAR) END AS app_raw
  FROM events),
sharded AS (
  SELECT *, (strpos('0123456789abcdef', substr(md5(addr), 32, 1)) - 1) % 8 AS shard
  FROM base),
kept AS (
  SELECT * FROM sharded WHERE shard <= 5 AND e % 11 <> 0),
fin AS (
  SELECT e, list_sort(list_filter([
      '__address__=' || addr,
      '__meta_kubernetes_namespace=' || ns,
      CASE WHEN app_raw IS NOT NULL THEN '__meta_kubernetes_pod_label_App=' || app_raw END,
      '__meta_kubernetes_pod_name=' || pod,
      '__scheme__=' || scheme,
      '__tmp_shard=' || CAST(shard AS VARCHAR),
      CASE WHEN app_raw IS NOT NULL THEN 'app=' || lower(app_raw) END,
      'job=' || ns || '/' || pod,
      'scheme_uc=' || upper(scheme),
      CASE WHEN app_raw IS NOT NULL THEN 'tier=t' || CAST(e % 4 AS VARCHAR) END
    ], x -> x IS NOT NULL)) AS lbls
  FROM kept)
SELECT e AS event_id, array_to_string(lbls, ',') AS labels FROM fin"""

    # --- githubreceiver workflow -> trace conversion ----------------------
    # deterministic sha256 span ids (trace_event_handling.go:91-124,464-480);
    # corrected timestamps = greatest(start, end); duplicate step names get
    # "-k" suffixes but share the raw-name span id (reference collision)
    _gh_concl = (
        "CASE e % 6 WHEN 0 THEN 'success' WHEN 1 THEN 'failure' WHEN 2 THEN 'cancelled' "
        "WHEN 3 THEN 'skipped' WHEN 4 THEN 'timed_out' END"
    )
    o["github_workflow_spans"] = f"""
WITH base AS (
  SELECT event_id AS e,
    CAST(event_id AS VARCHAR) AS rid,
    CAST(1 + event_id % 3 AS VARCHAR) AS att,
    CAST(event_id * 31 + 7 AS VARCHAR) AS crid,
    'build-' || CAST(event_id % 4 AS VARCHAR) AS job_name,
    epoch_us(ts) AS us,
    {_gh_concl} AS concl,
    CAST(event_id % 4 AS INT) AS cnt
  FROM events),
ids AS (
  SELECT *,
    substr(sha256(rid || att || 't'), 1, 32) AS trace_id,
    substr(sha256(rid || att || 's'), 17, 16) AS root_id,
    substr(sha256(crid || '-j'), 17, 16) AS job_id,
    substr(sha256(crid || '-q'), 17, 16) AS queue_id,
    us AS created_us,
    us + (e % 7) * 1000000 AS started_us,
    CASE WHEN e % 13 = 0 THEN us - 5000000 ELSE us + 60000000 END AS completed_us,
    CASE WHEN concl = 'success' THEN 'STATUS_CODE_OK'
         WHEN concl = 'failure' THEN 'STATUS_CODE_ERROR'
         ELSE 'STATUS_CODE_UNSET' END AS job_code,
    coalesce(concl, '') AS msg
  FROM base),
jobs AS (
  SELECT trace_id, job_id AS span_id, root_id AS parent_span_id, job_name AS name,
    'job' AS span_type, 'SPAN_KIND_INTERNAL' AS kind,
    created_us AS start_us, greatest(completed_us, created_us) AS end_us,
    job_code AS status_code, msg AS status_message,
    CAST(NULL AS DOUBLE) AS queue_duration_ns, CAST(NULL AS VARCHAR) AS task_status
  FROM ids),
queues AS (
  SELECT trace_id, queue_id AS span_id, job_id AS parent_span_id,
    'queue-' || job_name AS name, 'queue' AS span_type, 'SPAN_KIND_INTERNAL' AS kind,
    created_us AS start_us, greatest(started_us, created_us) AS end_us,
    'STATUS_CODE_UNSET' AS status_code, msg AS status_message,
    CAST((greatest(started_us, created_us) - created_us) * 1000 AS DOUBLE) AS queue_duration_ns,
    CAST(NULL AS VARCHAR) AS task_status
  FROM ids),
srows AS (
  SELECT ids.*, s.i,
    CASE s.i WHEN 1 THEN 'checkout' ELSE 'test' END AS sname,
    CASE WHEN cnt = 3 AND s.i = 3 THEN 'test-1'
         WHEN s.i = 1 THEN 'checkout' ELSE 'test' END AS uname,
    CASE (e + s.i) % 6 WHEN 0 THEN 'success' WHEN 1 THEN 'failure' WHEN 2 THEN 'cancelled'
         WHEN 3 THEN 'skipped' WHEN 4 THEN 'in_progress' END AS sconcl,
    us + s.i * 1000000 AS s_start,
    us + (s.i + (e + s.i) % 3 - 1) * 1000000 AS s_comp
  FROM ids, (SELECT unnest(generate_series(1, 3)) AS i) s
  WHERE s.i <= cnt),
steps AS (
  SELECT trace_id,
    substr(sha256(crid || '-' || sname || '-s'), 17, 16) AS span_id,
    job_id AS parent_span_id, uname AS name, 'step' AS span_type,
    'SPAN_KIND_INTERNAL' AS kind,
    s_start AS start_us, greatest(s_comp, s_start) AS end_us,
    CASE WHEN sconcl = 'success' THEN 'STATUS_CODE_OK'
         WHEN sconcl = 'failure' THEN 'STATUS_CODE_ERROR'
         ELSE 'STATUS_CODE_UNSET' END AS status_code,
    msg AS status_message,
    CAST(NULL AS DOUBLE) AS queue_duration_ns,
    CASE sconcl WHEN 'success' THEN 'success' WHEN 'failure' THEN 'failure'
         WHEN 'skipped' THEN 'failure' WHEN 'cancelled' THEN 'cancellation'
         ELSE 'completed' END AS task_status
  FROM srows)
SELECT * FROM jobs UNION ALL SELECT * FROM queues UNION ALL SELECT * FROM steps"""

    o["github_run_roots"] = f"""
WITH base AS (
  SELECT event_id AS e,
    CAST(event_id AS VARCHAR) AS rid,
    CAST(1 + event_id % 3 AS VARCHAR) AS att,
    1 + event_id % 3 AS attn,
    'deploy-' || CAST(event_id % 3 AS VARCHAR) AS wf,
    epoch_us(ts) AS us,
    {_gh_concl} AS concl,
    CASE WHEN event_id % 4 = 0 THEN 'https://api.github.example/prev' END AS prev,
    CASE WHEN event_id % 9 = 0 THEN ''
         ELSE 'My_Repo_' || CAST(event_id % 5 AS VARCHAR) END AS repo
  FROM events)
SELECT substr(sha256(rid || att || 't'), 1, 32) AS trace_id,
  substr(sha256(rid || att || 's'), 17, 16) AS span_id,
  wf AS name, 'SPAN_KIND_SERVER' AS kind,
  us AS start_us,
  greatest(CASE WHEN e % 13 = 0 THEN us - 5000000 ELSE us + 90000000 END, us) AS end_us,
  CASE WHEN concl = 'success' THEN 'STATUS_CODE_OK'
       WHEN concl = 'failure' THEN 'STATUS_CODE_ERROR'
       ELSE 'STATUS_CODE_UNSET' END AS status_code,
  coalesce(concl, '') AS status_message,
  CASE WHEN prev IS NOT NULL AND attn > 1
       THEN substr(sha256(rid || CAST(attn - 1 AS VARCHAR) || 't'), 1, 32) END AS link_trace_id,
  CASE WHEN repo = '' THEN 'unknown_service'
       ELSE replace(lower(repo), '_', '-') END AS service_name,
  CASE WHEN concl = 'success' THEN 'success' WHEN concl = 'failure' THEN 'failure'
       WHEN concl = 'skipped' THEN 'skip' WHEN concl = 'cancelled' THEN 'cancellation'
       ELSE lower(coalesce(concl, '')) END AS run_status
FROM base"""

    # --- gitlabreceiver pipeline -> trace conversion ----------------------
    # ids hash the raw GitLab time STRINGS; stage window = min/max over the
    # ran jobs of the stage; status code: success->OK, failed/canceled->
    # ERROR, else UNSET
    _gl_code = (
        "CASE WHEN {s} = 'success' THEN 'STATUS_CODE_OK' "
        "WHEN {s} IN ('failed', 'canceled') THEN 'STATUS_CODE_ERROR' "
        "ELSE 'STATUS_CODE_UNSET' END"
    )
    _gl_cyc = (
        "CASE (e + {i}) % 5 WHEN 0 THEN 'success' WHEN 1 THEN 'failed' "
        "WHEN 2 THEN 'canceled' WHEN 3 THEN 'skipped' ELSE 'running' END"
    )
    _gl_fmt = "strftime(make_timestamp(CAST({us} AS BIGINT)), '%Y-%m-%d %H:%M:%S') || ' UTC'"
    o["gitlab_pipeline_spans"] = f"""
WITH base AS (
  SELECT event_id AS e,
    CAST(epoch_us(ts) // 1000000 * 1000000 AS BIGINT) AS us,
    {_gl_fmt.format(us="epoch_us(ts) // 1000000 * 1000000")} AS c_str,
    {_gl_fmt.format(us="epoch_us(ts) // 1000000 * 1000000 + 300000000")} AS f_str,
    {_gl_cyc.format(i="0")} AS pstatus,
    CASE WHEN event_id % 3 <> 0 THEN 'Pipeline-' || CAST(event_id % 5 AS VARCHAR)
         ELSE 'commit-' || CAST(event_id % 7 AS VARCHAR) END AS pname
  FROM events),
jobs0 AS (
  SELECT b.*, s.i,
    CASE WHEN s.i = 1 THEN 'build' ELSE 'test' END AS stg,
    'job-' || CAST(s.i AS VARCHAR) AS jname,
    e * 10 + s.i AS jid,
    {_gl_cyc.format(i="s.i")} AS jstatus,
    (e + s.i) % 7 = 0 AS unran,
    {_gl_fmt.format(us="us + s.i * 10000000")} AS st_str,
    us + s.i * 10000000 AS st_us,
    us + (s.i * 10 + 60) * 1000000 AS fi_us
  FROM base b, (SELECT unnest(generate_series(1, 3)) AS i) s
  WHERE s.i <= 1 + b.e % 3),
stages0 AS (
  SELECT e, stg, arg_min(jstatus, i) AS sstat,
    min(CASE WHEN NOT unran THEN i END) AS min_ran,
    max(CASE WHEN NOT unran THEN i END) AS max_ran
  FROM jobs0 GROUP BY e, stg),
stagesr AS (
  SELECT s.*, b.us, b.f_str,
    {_gl_fmt.format(us="b.us + s.min_ran * 10000000")} AS s_start_str
  FROM stages0 s JOIN base b ON b.e = s.e
  WHERE s.min_ran IS NOT NULL),
pipes AS (
  SELECT substr(sha256(CAST(e AS VARCHAR) || 't' || f_str), 1, 32) AS trace_id,
    substr(sha256(CAST(e AS VARCHAR) || f_str), 17, 16) AS span_id,
    CAST(NULL AS VARCHAR) AS parent_span_id,
    pname AS name, 'pipeline' AS span_type, 'SPAN_KIND_SERVER' AS kind,
    us AS start_us, us + 300000000 AS end_us,
    {_gl_code.format(s="pstatus")} AS status_code, pstatus AS status,
    CAST(NULL AS BIGINT) AS job_id, CAST(NULL AS VARCHAR) AS stage
  FROM base),
stages AS (
  SELECT substr(sha256(CAST(e AS VARCHAR) || 't' || f_str), 1, 32),
    substr(sha256(CAST(e AS VARCHAR) || stg || s_start_str), 17, 16),
    substr(sha256(CAST(e AS VARCHAR) || f_str), 17, 16),
    stg, 'stage', 'SPAN_KIND_SERVER',
    us + min_ran * 10000000, us + (max_ran * 10 + 60) * 1000000,
    {_gl_code.format(s="sstat")}, sstat,
    CAST(NULL AS BIGINT), stg
  FROM stagesr),
jobs AS (
  SELECT substr(sha256(CAST(j.e AS VARCHAR) || 't' || b.f_str), 1, 32),
    substr(sha256(CAST(j.jid AS VARCHAR) || j.st_str), 17, 16),
    substr(sha256(CAST(j.e AS VARCHAR) || j.stg || sr.s_start_str), 17, 16),
    j.jname, 'job', 'SPAN_KIND_SERVER',
    j.st_us, j.fi_us,
    {_gl_code.format(s="j.jstatus")}, j.jstatus,
    j.jid, j.stg
  FROM jobs0 j
  JOIN base b ON b.e = j.e
  JOIN stagesr sr ON sr.e = j.e AND sr.stg = j.stg
  WHERE NOT j.unran)
SELECT * FROM pipes UNION ALL SELECT * FROM stages UNION ALL SELECT * FROM jobs"""

    # --- spanmetrics exemplars -------------------------------------------
    o["events_histogram_exemplars"] = """
WITH src AS (
  SELECT event_type, value, ts, event_id,
    substr(md5('t' || CAST(event_id AS VARCHAR)), 1, 32) AS trace_id,
    substr(md5('s' || CAST(event_id AS VARCHAR)), 17, 16) AS span_id
  FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn FROM src),
ex AS (
  SELECT event_type,
    string_agg(trace_id || ':' || span_id || ':' ||
               CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR),
               '|' ORDER BY rn) AS exemplars_csv
  FROM r WHERE rn <= 5 GROUP BY event_type),
h AS (SELECT event_type, count(value) AS h_count FROM events GROUP BY event_type)
SELECT h.event_type, h.h_count, ex.exemplars_csv
FROM h JOIN ex USING (event_type)"""

    o["prom_scrape_merge"] = """
WITH base AS (SELECT event_id AS e, user_id AS u FROM events)
SELECT e AS event_id,
  array_to_string(list_sort(list_filter([
    'job=node',
    'instance=i-' || CAST(u AS VARCHAR),
    CASE WHEN e % 2 = 0 THEN 'dc=east' END,
    'metric=m' || CAST(e % 4 AS VARCHAR),
    'exported_job=' || CASE WHEN e % 7 = 0 THEN 'pre' ELSE 'app-' || CAST(e % 3 AS VARCHAR) END,
    CASE WHEN e % 5 = 0 THEN 'exported_instance=scr-i' END
  ], x -> x IS NOT NULL)), ',') AS merged_default,
  array_to_string(list_sort(list_filter([
    'job=app-' || CAST(e % 3 AS VARCHAR),
    'metric=m' || CAST(e % 4 AS VARCHAR),
    'instance=' || CASE WHEN e % 5 = 0 THEN 'scr-i' ELSE 'i-' || CAST(u AS VARCHAR) END,
    CASE WHEN e % 7 = 0 THEN 'exported_job=pre' END,
    CASE WHEN e % 2 = 0 THEN 'dc=east' END
  ], x -> x IS NOT NULL)), ',') AS merged_honor
FROM base"""

    o["prom_relabel_keepequal"] = """
SELECT event_id,
  'env=' || CASE WHEN event_id % 2 = 0 THEN 'prod' ELSE 'dev' END ||
  ',job=job-' || CAST(event_id % 4 AS VARCHAR) AS labels
FROM events WHERE event_id % 3 = 0"""

    # --- elasticsearch data-stream routing --------------------------------
    # sanitize = lowercase + translate(disallowed -> '_') + 95/100-char cap
    # + '.otel' dataset suffix; precedence record > scope > resource; scope
    # routing only when no dataset attribute exists
    o["es_route_index"] = """
WITH base AS (
  SELECT event_id AS e,
    CASE e % 3 WHEN 0 THEN 'logs' WHEN 1 THEN 'metrics' ELSE 'traces' END AS sig,
    CASE WHEN e % 17 = 0 THEN 'manual-idx-' || CAST(e % 4 AS VARCHAR) END AS manual,
    CASE WHEN e % 3 = 0 THEN 'Web App/' || CAST(e % 4 AS VARCHAR)
         WHEN e % 13 = 0 THEN 'res-ds' END AS ds_attr,
    CASE WHEN e % 5 = 0 THEN 'NS,' || CAST(e % 3 AS VARCHAR)
         WHEN e % 11 = 0 THEN 'ScopeNS' END AS ns_attr,
    CASE WHEN e % 6 = 0 THEN 'collectortelemetry'
         WHEN e % 7 = 0 THEN 'aws.vpcflow'
         WHEN e % 6 = 1 THEN 'filelogreceiver'
         WHEN e % 6 = 2 THEN 'countconnector' END AS scope_ds
  FROM (SELECT event_id FROM events) ev(event_id)),
resolved AS (
  SELECT e, sig, manual,
    coalesce(ds_attr, scope_ds, 'generic') AS ds,
    coalesce(ns_attr, 'default') AS ns
  FROM base)
SELECT e AS event_id,
  coalesce(manual,
    sig || '-' ||
    substr(translate(lower(ds), '-\\/*?"<>| ,#:', '_____________'), 1, 95) || '.otel-' ||
    substr(translate(lower(ns), '\\/*?"<>| ,#:', '____________'), 1, 100)
  ) AS es_index
FROM resolved"""

    return o


ORACLES: dict[str, str] = _oracles()
