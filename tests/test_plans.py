"""Plan-regression guards: the physical plans of the headline queries must
keep the shapes the PLANS.md audits signed off on. A correctness-preserving
edit that re-introduces a scale anti-pattern (nested-loop join, cartesian
product, an extra shuffle, losing the broadcast on a dim join, losing
parquet filter pushdown) passes every value-based oracle at sf0.01 but
melts at 100 TB — these tests fail it in CI instead.

Plans are inspected at sf0.001 (plan shape is scale-invariant; only the
statistics-driven broadcast choices matter, and the dims are tiny at every
scale)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def tree_of(plan: str) -> str:
    """The node-tree section of a formatted explain (before the per-node
    details), so node-name counts aren't inflated by detail references."""
    return plan.split("\n\n", 1)[0]


def n_exchanges(plan: str) -> int:
    # AQE reuse shows as ShuffleQueryStage/AQEShuffleRead; count the
    # Exchange operators themselves in the tree section.
    return len(re.findall(r"\bExchange\b", tree_of(plan)))


def _query(name):
    import __spark_entry__ as entry

    return entry.queries()[name]


# every headline query must be free of the two at-scale killers
FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

HEADLINERS = [
    "pipeline_routed",
    "agg_per_conv_salted",
    "agg_per_tool",
    "dedup_minhash_lsh_pairs",
    "dedup_keep_first_incremental",
    "dedup_simhash_pairs",
    "dedup_embedding_pairs_bucketed",
    "sim_topk_ivf",
    "events_asof_enrich",
    "curation_e2e",
    "service_graph_edges",
    "drain_templates",
    "text_chunks",
    "dedup_span_removal",
    "curation_decontaminate_fuzzy",
]


@pytest.mark.parametrize("name", HEADLINERS)
def test_no_nested_loop_or_cartesian(spark, name):
    plan = plan_of(_query(name)(spark, SF))
    for node in FORBIDDEN:
        assert node not in plan, f"{name}: {node} in physical plan"


def test_pipeline_dims_are_broadcast(spark):
    """The enrich stage joins two small dims; both must be broadcast hash
    joins (dims ship once per executor) with NO shuffle on the fact side —
    the single exchange in the plan feeds the stable-order window."""
    # another test file's fixture may have persisted this exact subtree;
    # a cache hit would wrap the plan in InMemoryTableScan and hide its shape
    spark.catalog.clearCache()
    plan = plan_of(_query("pipeline_routed")(spark, SF))
    assert len(re.findall(r"BroadcastHashJoin", tree_of(plan))) >= 2
    assert "SortMergeJoin" not in plan
    assert n_exchanges(plan) <= 1, plan[:2000]


def test_span_removal_bounded_exchanges(spark):
    """Exact-substring removal: one gram agg, one gram join, one doc agg —
    no pair join anywhere, so exchanges stay constant (<= 4) regardless of
    how hot a boilerplate n-gram is."""
    plan = plan_of(_query("dedup_span_removal")(spark, SF))
    assert n_exchanges(plan) <= 4, plan[:2000]


def test_salted_agg_shuffles_at_most_twice(spark):
    """Two-phase salted aggregation: partial agg on (key, salt) then final
    on key — two exchanges max, nothing quadratic."""
    plan = plan_of(_query("agg_per_conv_salted")(spark, SF))
    assert n_exchanges(plan) <= 2, plan[:2000]


def test_minhash_lsh_is_equi_join(spark):
    """LSH candidate generation must be a shuffled EQUI-join on the band
    bucket (SortMergeJoin/ShuffledHashJoin are both fine shapes), never a
    nested loop over all pairs."""
    plan = plan_of(_query("dedup_minhash_lsh_pairs")(spark, SF))
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", tree_of(plan))


def test_ivf_assignment_has_no_join(spark):
    """IVF cell assignment is an inlined-centroid projection: the only joins
    in sim_topk_ivf are the candidate equi-join on cell (+ the query-side
    cell attach) — no join per centroid, no nested loop."""
    plan = plan_of(_query("sim_topk_ivf")(spark, SF))
    tree = tree_of(plan)
    joins = len(re.findall(r"Join", tree))
    assert joins <= 3, f"expected <=3 join nodes, got {joins}:\n{tree}"


def test_filter_pushdown_reaches_parquet_scan(spark):
    """A filtered scan must push predicates into the parquet reader
    (PushedFilters non-empty) and prune columns (ReadSchema ⊂ full table)."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("event_id", "event_type")
    )
    plan = plan_of(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"no pushed filters:\n{plan}"
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and len(rs.group(1).split(",")) <= 3, "column pruning lost"


def test_pipeline_parse_stays_in_wholestage_codegen(spark):
    """The parse/enrich/route projections must sit inside WholeStageCodegen
    spans — a per-row Python UDF sneaking into the hot path would appear as
    BatchEvalPython / ArrowEvalPython nodes."""
    spark.catalog.clearCache()
    plan = plan_of(_query("pipeline_routed")(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # AQE wraps the plan in AdaptiveSparkPlan, which hides codegen spans
    # until execution — toggle it off to inspect the static codegen plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cg = plan_of(_query("pipeline_routed")(spark, SF), mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", cg)
    assert m and int(m.group(1)) >= 1, cg[:500]


def test_start_time_adjust_single_exchange(spark):
    """Stacked epoch windows must share ONE shuffle: hashpartitioning on
    the series satisfies the refined (series, epoch) clustering, so the
    epoch-stats window adds a re-Sort, never a second Exchange."""
    plan = plan_of(_query("events_start_subtract_initial")(spark, SF))
    assert n_exchanges(plan) == 1, plan[:2000]
    for node in FORBIDDEN:
        assert node not in plan


def test_stanza_chain_fuses_into_codegen(spark):
    """The whole operators: list (regex + severity + time + add + router)
    must compile to projections inside whole-stage codegen over the scan —
    one stage, zero exchanges, zero UDF nodes."""
    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    plan = plan_of(_query("stanza_chain_parse")(spark, SF))
    tree = tree_of(plan)
    assert n_exchanges(plan) == 0, tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted mode stars codegen'd nodes; every projection must carry it
    assert "* Project" in tree


def test_host_info_single_aggregate_exchange(spark):
    """Window-distinct host datapoints: one hash-aggregate shuffle on the
    already-reduced (window, host) pairs, nothing else."""
    plan = plan_of(_query("events_host_info")(spark, SF))
    assert n_exchanges(plan) <= 1, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "render_syslog_rfc5424",
        "render_syslog_rfc3164",
        "render_splunk_hec_events",
        "render_es_bulk_docs",
        "render_prom_roundtrip",
        "carbon_render_roundtrip",
        "loki_render_roundtrip",
        "otlpjson_render_roundtrip",
        "parse_carbon_lines",
        "parse_collectd_json",
        "parse_firehose_records",
        "vpc_flow_parse",
        "alb_access_log_parse",
        "s3_access_log_parse",
        "waf_log_parse",
        "network_firewall_parse",
        "gcp_log_entry_parse",
        "cw_metric_stream_parse",
        # session-4 wire formats — all must stay scan->project(->generate)
        "wavefront_render_roundtrip",
        "influx_render_roundtrip",
        "zipkin_render_roundtrip",
        "emf_render_roundtrip",
        "libhoney_render_roundtrip",
        "xray_render_roundtrip",
        "faro_render_roundtrip",
        "cloudflare_logpush_parse",
        "alertmanager_render_roundtrip",
        "azure_logs_roundtrip",
        "datadog_series_v1_parse",
        "expvar_memstats_parse",
        "mezmo_render_roundtrip",
        "honeycomb_markers",
        # session-7 translators: all must stay scan-speed projections.
        # (prw_histogram_series is excluded: its REGISTRY fixture composes
        # over the Arrow-batched protobuf wire decode, so the plan shows
        # the decoder's mapInArrow; the expansion itself is the same
        # native shape prw_summary_series proves below.)
        "prom_name_normalize",
        "loki_stream_labels",
        "jaeger_tags_otlp",
        "zipkin_tags_otlp",
        "prw_summary_series",
        "redaction_full_config",
    ],
)
def test_wire_renders_and_parsers_are_shuffle_free_projections(spark, name):
    """The exporter renders and wire parsers are the per-row hot path of a
    100 TB pipeline: they must stay pure scan->project(->generate) chains —
    zero Exchange, no join nodes, no Python UDF (BatchEvalPython /
    ArrowEvalPython) anywhere in the plan."""
    plan = plan_of(_query(name)(spark, SF))
    assert n_exchanges(plan) == 0, f"{name} gained a shuffle:\n{tree_of(plan)}"
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, f"{name} plan contains {node}"
    # formatted mode marks whole-stage-codegen nodes with '*'; a HOF
    # (exists/transform/map_filter) can push EVERY Project out of codegen —
    # still JVM-side, just interpreted-expression mode — so accept the
    # codegen'd scan (ColumnarToRow) as the floor. The no-Python assertions
    # above are the real guard.
    assert re.search(r"\* (Project|Filter|ColumnarToRow)", tree_of(plan)), tree_of(plan)


# --- session-3 additions: metric editors / span pruning / SIEM parsers / statsd


def test_metric_editors_are_shuffle_free_projections(spark):
    """The transformprocessor metric-context editors are per-datapoint
    rewrites — the whole chain (type toggles, scale, copy-union) must
    compile to scan->project unions with zero Exchange and zero Python."""
    plan = plan_of(_query("metrics_editor_chain")(spark, SF))
    assert n_exchanges(plan) == 0, tree_of(plan)
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, f"plan contains {node}"


def test_exp_to_explicit_is_projection_over_fixture_agg(spark):
    """convert_exponential_histogram_to_histogram itself is a pure
    projection; the Exchanges in this query belong to the FIXTURE's
    per-event_type datapoint aggregation (once per algo branch). No joins,
    no Python anywhere."""
    plan = plan_of(_query("metrics_exp_to_explicit")(spark, SF))
    assert n_exchanges(plan) <= 3, tree_of(plan)
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, f"plan contains {node}"


def test_metric_agg_attr_value_single_exchange(spark):
    """aggregate_on_attribute_value = ONE hash aggregation: partial agg
    before the single Exchange, final after (map-side combine at 100 TB)."""
    plan = plan_of(_query("metrics_agg_attr_value")(spark, SF))
    assert n_exchanges(plan) == 1, tree_of(plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert re.search(r"partial", plan, re.IGNORECASE), "no map-side partial aggregation"


def test_span_pruning_single_trace_shuffle(spark):
    """span_pruning is one hash repartition on trace_id feeding the
    grouped mapInArrow tree kernel — no joins, no second Exchange."""
    plan = plan_of(_query("span_pruning_flat")(spark, SF))
    # the fixture build itself aggregates roots (distinct trace ids): allow
    # its exchanges but the operator itself must add exactly one
    assert "MapInArrow" in plan
    for node in (*FORBIDDEN, "SortMergeJoin"):
        assert node not in plan, f"span_pruning plan contains {node}"


@pytest.mark.parametrize("name", ["cef_parse_roundtrip", "leef_parse_roundtrip", "clf_parse_roundtrip"])
def test_siem_roundtrips_no_shuffle(spark, name):
    """CEF/LEEF/CLF render->parse round trips are scan-speed row pipelines:
    zero Exchange, no joins. (The stateful CEF/LEEF scans and the CLF
    unescape are Arrow-batched — ArrowEvalPython is the designed shape.)"""
    plan = plan_of(_query(name)(spark, SF))
    assert n_exchanges(plan) == 0, tree_of(plan)
    for node in (*FORBIDDEN, "SortMergeJoin"):
        assert node not in plan, f"{name} plan contains {node}"
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF crept in"


def test_statsd_aggregate_bounded_exchanges(spark):
    """statsd_aggregate = native parse projection + one hash agg per metric
    kind (+ the gauge reset window sharing its partitioning) — bounded
    Exchange count, no Python, no joins."""
    plan = plan_of(_query("statsd_flush_aggregate")(spark, SF))
    assert n_exchanges(plan) <= 4, tree_of(plan)
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, f"statsd plan contains {node}"
    assert re.search(r"partial", plan, re.IGNORECASE)


@pytest.mark.parametrize(
    "name",
    ["netflow_v5_parse", "netflow_v9_parse", "ipfix_parse",
     "ipfix_cross_packet_templates", "sflow_parse", "envoy_als_entries"],
)
def test_netflow_decode_is_shuffle_free_arrow_map(spark, name):
    """Flow-packet decode is a per-row fan-out: one Arrow-batched map over
    the scan, zero Exchange, no joins, so it scales with splits. sFlow and
    Envoy ALS run on the protobuf decoders' mapInArrow kernel
    (`_wire.explode_decode`); NetFlow v5/v9/IPFIX on numpy batch decoders
    under mapInPandas."""
    plan = plan_of(_query(name)(spark, SF))
    assert n_exchanges(plan) == 0, tree_of(plan)
    kernel = "MapInArrow" if name in ("sflow_parse", "envoy_als_entries") else "MapInPandas"
    assert kernel in plan, f"{name} must decode in one Arrow-batched {kernel}"
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython"):
        assert node not in plan, f"{name} plan contains {node}"


def test_windows_event_parse_native_projection(spark):
    """Event XML parse is one from_xml projection: zero Exchange, zero
    Python of any kind — the whole query including the render fixture is
    JVM-side expression eval."""
    plan = plan_of(_query("windows_event_parse")(spark, SF))
    assert n_exchanges(plan) == 0, tree_of(plan)
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"plan contains {node}"


@pytest.mark.parametrize("name", ["osquery_result_logs", "macos_unified_logs"])
def test_event_ingest_native_queries_shuffle_free(spark, name):
    """osquery row fan-out (from_json + explode) and the macOS line
    mapping are fully native scan->project(->generate) chains."""
    plan = plan_of(_query(name)(spark, SF))
    assert n_exchanges(plan) == 0, tree_of(plan)
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"{name} plan contains {node}"


def test_webhook_split_is_arrow_batched_no_shuffle(spark):
    """The JSON-boundary splitter is the one honest Python piece
    (streaming raw_decode has no Catalyst equivalent) — Arrow-batched,
    zero Exchange, no row-at-a-time Python."""
    plan = plan_of(_query("webhook_split_events")(spark, SF))
    assert n_exchanges(plan) == 0, tree_of(plan)
    assert "ArrowEvalPython" in plan
    for node in (*FORBIDDEN, "SortMergeJoin", "BatchEvalPython"):
        assert node not in plan, f"plan contains {node}"


def test_url_filter_query_blocked_subset_shuffle_only(spark):
    """The DataFrame-blocklist URL gate: one broadcast equi-join over the
    exploded suffixes; the only Exchanges belong to the blocked-subset
    aggregation + its rejoin — never a nested loop."""
    plan = plan_of(_query("curation_url_filter")(spark, SF))
    for node in (*FORBIDDEN, "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, f"plan contains {node}"
    assert "BroadcastHashJoin" in plan, "blocklist join lost its broadcast"
    assert n_exchanges(plan) <= 3, tree_of(plan)


def test_tpch_q5_broadcasts_only_fixed_size_dims(spark):
    """Q5 star join: nation/region (fixed 25/5 rows at ANY scale factor)
    carry explicit broadcast hints; customer/orders/lineitem/supplier —
    all corpus-proportional — must rely on STATISTICS only, so that at
    100 TB they degrade to shuffle joins instead of OOMing an executor.
    Verified by dropping autoBroadcastJoinThreshold (simulating big-table
    stats): exactly the two hinted joins stay broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_query("tpch_local_supplier_volume")(spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    t = tree_of(plan)
    for node in FORBIDDEN:
        assert node not in plan, f"plan contains {node}"
    assert len(re.findall(r"BroadcastHashJoin", t)) == 2, t  # nation + region
    # the three big-table joins are shuffle joins (SMJ or shuffled-hash)
    assert len(re.findall(r"SortMergeJoin|ShuffledHashJoin", t)) == 3, t


def test_tpch_q3_filters_reach_scans(spark):
    """Q3: segment/date predicates must push into the parquet scans and
    the big joins stay shuffle joins."""
    plan = plan_of(_query("tpch_shipping_priority")(spark, SF))
    for node in FORBIDDEN:
        assert node not in plan, f"plan contains {node}"
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan, (
        "customer segment filter did not reach the scan"
    )
