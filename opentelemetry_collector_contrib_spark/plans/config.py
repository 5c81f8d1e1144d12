"""Config-driven pipeline compiler: the collector's YAML → pipeline-DAG
lifecycle (SURVEY.md §3.1) as a declarative spec → DataFrame plan.

The reference builds receivers → processors → exporters from confmap-parsed
YAML, validating each component config eagerly and compiling every OTTL
statement at startup (transformprocessor/internal/logs/processor.go:26-45,
routing table validation connector/routingconnector/config.go:76-110). This
module does the same: a plain-dict spec is validated and compiled ONCE into
a DataFrame-building closure; Catalyst is the planner the reference lacks.

Spec shape (all sections optional except source):

    {
      "source":  {"path": "/data/transcripts"},        # or {"table": ...}
      "parse":   {"bank": "native" | "vectorized"},
      "transform": ["set(pipeline, \\"logs\\")",        # OTTL statements
                    "set(sev, \\"unknown\\") where sev == nil"],
      "filter":  ["status == \\"drop_me\\""],           # OTTL drop conditions
      "enrich":  [{"dim_path": ".../tool_dim.parquet", "key": "tool",
                   "defaults": {"tool_category": "Unknown"}}],
      "dlq":     {"rules": [{"reason": "no_text",       # OTTL, first match wins
                             "when": "text == nil"}]},
      "routes":  {"default": "general",
                  "table": [{"name": "errors", "condition": "status == \\"err\\"",
                             "mode": "move"}]},
      "order":   {"enabled": True,                      # stable turn-order window
                  "partitions": 8},                      # optional: repartition(n, conv_id) first
      "sample":  {"kind": "adaptive", "keys": ["pattern_id"],
                  "target_per_key": 500},                # or probabilistic[_portable]/mod
      "tail_sampling": {"policies": [{"name": "errs", "type": "status_code",
                                      "values": ["err"]}],
                        "rate_limit_per_minute": 100},
      "aggregates": {"per_conv": {"keys": ["route_id", "conv_id"]}},
    }

`dlq` compiles to an `error_reason` column (the first matching rule's
reason, NULL for clean rows) and a `quarantine` move route ahead of every
`routes` entry; quarantined rows are kept out of copy routes too, so a
content failure never reaches a regular sink (plans/dlq.py).

build_pipeline(..., streaming=True) compiles the same spec over a
readStream of the source: no order window, and `contract` or
`order.partitions` is refused.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

VALID_SECTIONS = {
    "source", "parse", "stanza_operators", "stanza_operators_post",
    "transform", "filter", "filter_match", "enrich", "routes", "order",
    "aggregates", "sample", "tail_sampling", "contract", "dlq",
}

_CONTRACT_TYPES = {"not_null", "range", "regex", "enum", "unique"}

_SAMPLE_KINDS = {"probabilistic", "probabilistic_portable", "mod", "adaptive"}
_TAIL_POLICY_TYPES = {
    "latency", "numeric_attribute", "string_attribute", "boolean_attribute",
    "status_code", "span_count", "probabilistic", "ottl_condition",
    "and", "or", "not", "drop",
}


def validate_spec(spec: dict[str, Any]) -> None:
    """Eager validation, mirroring confmap unmarshal-time checks: unknown
    sections, empty route tables, condition-less routes, and bad OTTL all
    fail at build time, never mid-job."""
    src = spec.get("source")
    if not isinstance(src, dict) or not (
        "path" in src or "table" in src or "wire_spool" in src
    ):
        raise ValueError("source.path, source.table, or source.wire_spool is required")
    if "wire_spool" in src:
        from ..sources.file_source import WIRE_DECODERS

        if src.get("wire") not in WIRE_DECODERS:
            raise ValueError(
                f"source.wire must be one of {sorted(WIRE_DECODERS)}, got {src.get('wire')!r}"
            )
        # decoder kwargs ride in source.options; decoders with REQUIRED
        # kwargs must fail at validate time, not with a TypeError mid-build
        if src["wire"] == "avro" and not (src.get("options") or {}).get("schema_json"):
            raise ValueError("source.wire 'avro' requires source.options.schema_json")
    _validate_sections(spec)


def _validate_sections(spec: dict[str, Any]) -> None:
    """Everything except the source requirement — shared with service-graph
    pipelines, whose input may be a connector edge instead of a source."""
    unknown = set(spec) - VALID_SECTIONS
    if unknown:
        raise ValueError(f"unknown pipeline sections: {sorted(unknown)}")
    if spec.get("stanza_operators") or spec.get("stanza_operators_post"):
        from .stanza_chain import validate_stanza_ops

        # validated per-list so error indices point into the right section
        for key in ("stanza_operators", "stanza_operators_post"):
            ops = spec.get(key) or []
            if not isinstance(ops, list):
                raise ValueError(f"{key} must be a list of operator configs")
            validate_stanza_ops(ops)
    contract = spec.get("contract")
    if contract is not None:
        checks = contract.get("checks")
        if not checks or not isinstance(checks, list):
            raise ValueError("contract.checks must be a non-empty list")
        for c in checks:
            if c.get("type") not in _CONTRACT_TYPES:
                raise ValueError(f"unknown contract check type {c.get('type')!r}")
        if contract.get("mode", "fail") not in ("fail", "report"):
            raise ValueError("contract.mode must be 'fail' or 'report'")
    dlq = spec.get("dlq")
    if dlq is not None:
        rules = dlq.get("rules")
        if not rules or not isinstance(rules, list):
            raise ValueError("dlq.rules must be a non-empty list")
        for r in rules:
            if not r.get("reason") or not r.get("when"):
                raise ValueError("each dlq rule needs 'reason' and 'when'")
    order = spec.get("order")
    if order is not None:
        if not isinstance(order, dict):
            raise ValueError("order must be a mapping")
        n = order.get("partitions")
        if n is not None and (isinstance(n, bool) or not isinstance(n, int) or n < 1):
            raise ValueError(f"order.partitions must be a positive int, got {n!r}")
    parse = spec.get("parse", {})
    if not isinstance(parse, dict) or parse.get("bank", "native") not in ("native", "vectorized"):
        raise ValueError(f"parse must be a mapping with bank native|vectorized, got {parse!r}")
    routes = spec.get("routes", {})
    if routes:
        if not isinstance(routes, dict):
            raise ValueError("routes must be a mapping")
        table = routes.get("table", [])
        if not table or not isinstance(table, list):
            raise ValueError("routes.table must be non-empty when routes is present")
        for r in table:
            if not isinstance(r, dict):
                raise ValueError("every route must be a mapping")
            if not r.get("name"):
                raise ValueError("every route needs a name")
            if not r.get("condition"):
                raise ValueError(f"route {r.get('name')}: condition is required")
            if r.get("mode", "move") not in ("move", "copy"):
                raise ValueError(f"route {r['name']}: mode must be move|copy")
    fm = spec.get("filter_match")
    if fm is not None:
        # filterconfig.MatchConfig (config.go:23-41): include/exclude pair,
        # each a MatchProperties block — validated eagerly like the rest
        if not isinstance(fm, dict) or not ("include" in fm or "exclude" in fm):
            raise ValueError("filter_match needs include and/or exclude")
        for side in ("include", "exclude"):
            props = fm.get(side)
            if props is None:
                continue
            if not isinstance(props, dict):
                raise ValueError(f"filter_match.{side} must be a mapping")
            if props.get("match_type", "strict") not in ("strict", "regexp"):
                raise ValueError(f"filter_match.{side}.match_type must be strict|regexp")
            if not (props.get("attributes") or props.get("record")):
                raise ValueError(f"filter_match.{side} needs attributes or record matchers")
    sample = spec.get("sample")
    if sample is not None:
        if not isinstance(sample, dict):
            raise ValueError("sample must be a mapping")
        kind = sample.get("kind")
        if not isinstance(kind, str) or kind not in _SAMPLE_KINDS:
            raise ValueError(f"sample.kind must be one of {sorted(_SAMPLE_KINDS)}")
        required = {
            "probabilistic": ["key", "percent"],
            "probabilistic_portable": ["key", "percent"],
            "mod": ["key", "modulus", "keep_under"],
            "adaptive": ["keys", "target_per_key"],
        }[kind]
        missing = [f for f in required if not sample.get(f) and sample.get(f) != 0]
        if missing:
            raise ValueError(f"sample({kind}): missing fields {missing}")
    _POLICY_REQUIRED = {
        "latency": ["threshold_ms"],
        "numeric_attribute": ["key", "min"],
        "string_attribute": ["key", "values"],
        "boolean_attribute": ["key", "value"],
        "status_code": ["values"],
        "span_count": [],  # min OR max, checked below

        "probabilistic": ["percent"],
        "ottl_condition": ["condition"],
        "and": ["of"], "or": ["of"], "not": ["of"], "drop": ["of"],
    }
    ts_section = spec.get("tail_sampling", {})
    if ts_section and not isinstance(ts_section, dict):
        raise ValueError("tail_sampling must be a mapping")
    ts_policies = (ts_section or {}).get("policies", [])
    if ts_policies and not isinstance(ts_policies, list):
        raise ValueError("tail_sampling.policies must be a list")
    for p in ts_policies:
        if not isinstance(p, dict):
            raise ValueError("every tail-sampling policy must be a mapping")
        if not p.get("name"):
            raise ValueError("every tail-sampling policy needs a name")
        if not isinstance(p.get("type"), str) or p.get("type") not in _TAIL_POLICY_TYPES:
            raise ValueError(f"tail-sampling policy {p['name']}: unknown type {p.get('type')!r}")
        missing = [f for f in _POLICY_REQUIRED[p["type"]] if p.get(f) is None]
        if missing:
            raise ValueError(f"tail-sampling policy {p['name']} ({p['type']}): missing fields {missing}")
        if p["type"] == "span_count" and p.get("min") is None and p.get("max") is None:
            raise ValueError(f"tail-sampling policy {p['name']}: span_count needs min and/or max")
    if ts_policies and not any(p.get("vote", True) and p["type"] != "drop" for p in ts_policies):
        raise ValueError("tail_sampling needs at least one voting (non-drop) policy")
    # compile-at-startup: surface OTTL syntax errors here
    from ..functions.ottl_compiler import parse_condition, parse_statement

    for section, parse in (("transform", parse_statement), ("filter", parse_condition)):
        items = spec.get(section) or []
        if not isinstance(items, list):
            raise ValueError(f"{section} must be a list of OTTL strings")
        for s in items:
            if not isinstance(s, str):
                raise ValueError(f"{section} entries must be OTTL strings, got {type(s).__name__}")
            parse(s)
    for r in (spec.get("routes") or {}).get("table", []):
        if not isinstance(r["condition"], str):
            raise ValueError(f"route {r.get('name')}: condition must be an OTTL string")
        parse_condition(r["condition"])
    for r in (spec.get("dlq") or {}).get("rules", []):
        if not isinstance(r["when"], str):
            raise ValueError(f"dlq rule {r.get('reason')}: when must be an OTTL string")
        parse_condition(r["when"])
    for p in (spec.get("tail_sampling") or {}).get("policies", []):
        if p["type"] == "ottl_condition":
            if not isinstance(p["condition"], str):
                raise ValueError(f"tail-sampling policy {p.get('name')}: condition must be an OTTL string")
            parse_condition(p["condition"])


def build_pipeline(
    spark: SparkSession, spec: dict[str, Any], streaming: bool = False
) -> DataFrame:
    """Compile the spec into the routed DataFrame (pre-sink). One
    projection per stage; Catalyst fuses them.

    With `streaming`, the source is read as a stream and the result is a
    streaming DataFrame with the same columns minus the order window's.
    A stream can be neither collected nor totally ordered, so a
    `contract` or `order.partitions` raises ValueError here."""
    validate_spec(spec)
    if streaming:
        if spec.get("contract"):
            raise ValueError("contract needs the whole batch; a stream cannot be checked up front")
        if (spec.get("order") or {}).get("partitions"):
            raise ValueError("order.partitions feeds the order window; a stream has no total order")
        spec = {**spec, "order": {"enabled": False}}

    src = spec["source"]
    if "wire_spool" in src:
        # binary-wire receiver: the decoder IS the parse stage; processors
        # below see the decoded columns (nf_*, ff_*, ol_* ...)
        from ..sources.file_source import wire_spool_source

        df = wire_spool_source(
            spark, src["wire_spool"], src["wire"], streaming=streaming, **(src.get("options") or {})
        )
        # decoded wire rows are not transcripts: the stable turn-order
        # window has no conv_id/turn_idx to order on
        spec = {**spec, "order": spec.get("order", {"enabled": False})}
        return _apply_sections(spark, df, spec)
    df = _read_source(spark, src, streaming)

    contract = spec.get("contract")
    if contract:
        # data contract gates the BATCH at the source, before any compute
        # is spent on it (the confmap-style eager check lifted to data):
        # mode 'fail' raises on any failed check; 'report' proceeds (the
        # report frame is re-derivable cheaply by the caller)
        from .contracts import validate_contract

        verdicts = validate_contract(df, contract["checks"]).collect()
        failed = [r.check for r in verdicts if not r.passed]
        if failed and contract.get("mode", "fail") == "fail":
            raise ValueError(f"data contract failed: {failed}")

    df = _parse_stage(df, spec)
    if spec.get("stanza_operators_post"):
        # logstransformprocessor-style ops: run AFTER the parse stage
        from .stanza_chain import apply_stanza_operators

        df = apply_stanza_operators(df, spec["stanza_operators_post"])
    return _apply_sections(spark, df, spec)


def _read_source(spark: SparkSession, src: dict[str, Any], streaming: bool) -> DataFrame:
    if "table" in src:
        return (spark.readStream if streaming else spark.read).table(src["table"])
    if not streaming:
        return spark.read.parquet(src["path"])
    import os

    path = src["path"]
    if os.path.isfile(path):
        # the file-stream source needs a directory/glob, not a single file
        path = os.path.join(os.path.dirname(path), "*.parquet")
    # a file stream cannot infer its schema: read it once from the footers
    # the batch job would scan
    return spark.readStream.schema(spark.read.parquet(src["path"]).schema).parquet(path)


def _parse_stage(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """The receiver's parse stage: a filelog `operators:` list when the spec
    has one (the receiver runs it on raw entries before any processor),
    else the parse.bank regex bank."""
    if spec.get("stanza_operators"):
        from .stanza_chain import apply_stanza_operators

        return apply_stanza_operators(df, spec["stanza_operators"])
    from ..operators.parse import parse_native, parse_vectorized

    bank = spec.get("parse", {}).get("bank", "native")
    return parse_vectorized(df) if bank == "vectorized" else parse_native(df)


def _apply_sections(spark: SparkSession, df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """The processor chain (everything after source+parse), shared by
    build_pipeline and service-graph pipelines fed by connector edges."""
    from ..functions.ottl_compiler import apply_statements, parse_condition
    from ..operators.enrich import lookup
    from ..operators.order import stable_order
    from ..operators.route import apply_routes

    if spec.get("transform"):
        df = apply_statements(df, spec["transform"])

    for cond in spec.get("filter", []):
        from pyspark.sql import functions as F

        df = df.filter(~F.coalesce(parse_condition(cond), F.lit(False)))

    fm = spec.get("filter_match")
    if fm:
        from ..operators.filter import filter_match

        df = filter_match(df, fm.get("include"), fm.get("exclude"))

    for e in spec.get("enrich", []):
        dim = spark.read.parquet(e["dim_path"])
        df = lookup(df, dim, e["key"], e.get("defaults"))

    dlq = spec.get("dlq")
    if dlq:
        # first-match reason column; the quarantine ROUTE (prepended in
        # route_table_from_spec) moves every row that has one to its sink
        from .dlq import compile_rules, quarantine_reason

        df = df.withColumn("error_reason", quarantine_reason(compile_rules(dlq["rules"])))

    if spec.get("routes") or dlq:
        df = apply_routes(df, route_table_from_spec(spec))

    sample = spec.get("sample")
    if sample:
        from ..operators import filter as flt

        kind = sample["kind"]
        if kind == "probabilistic":
            df = flt.probabilistic_sampler(df, sample["key"], sample["percent"])
        elif kind == "probabilistic_portable":
            df = flt.probabilistic_sampler_portable(df, sample["key"], sample["percent"])
        elif kind == "mod":
            df = flt.deterministic_sampler_mod(df, sample["key"], sample["modulus"], sample["keep_under"])
        else:  # adaptive
            df = flt.adaptive_head_sampler(
                df, sample["keys"], sample["target_per_key"], sample.get("tiebreak_cols")
            )

    order = spec.get("order", {})
    if order.get("partitions"):
        # explicit conv_id hash partitioning: the order window and every
        # downstream per-conv operator reuse it instead of adding their own
        # exchanges
        from pyspark.sql import functions as F

        df = df.repartition(order["partitions"], F.col("conv_id"))
    if order.get("enabled", True):
        df = stable_order(df)
    return df


def route_table_from_spec(spec: dict[str, Any]):
    """The spec's routes section as a RouteTable — shared by build_pipeline
    (route_id assignment) and the sink fan-out (job.py), so the two can
    never diverge. With a dlq section, the quarantine route comes first
    and every copy route skips quarantined rows; both read the
    `error_reason` column build_pipeline adds. None when both sections
    are absent."""
    from ..functions.ottl_compiler import parse_condition
    from ..operators.route import Route, RouteTable

    routes = spec.get("routes")
    dlq = spec.get("dlq")
    if not routes and not dlq:
        return None
    table = [
        Route(r["name"], parse_condition(r["condition"]), r.get("mode", "move"))
        for r in (routes or {}).get("table", [])
    ]
    if dlq:
        # quarantine wins first (first-match-wins routing) and copies skip
        # it: a content failure must never leak into a regular sink
        from pyspark.sql import functions as F

        clean = F.col("error_reason").isNull()
        table = [Route("quarantine", F.col("error_reason").isNotNull(), "move")] + [
            Route(r.name, r.condition & clean, r.mode) if r.mode == "copy" else r
            for r in table
        ]
    return RouteTable(
        routes=table,
        default=(routes or {}).get("default", "general"),
    )


def build_tail_sampling(df: DataFrame, spec: dict[str, Any]) -> DataFrame | None:
    """Compile the tail_sampling section into the per-trace verdict frame
    (None when the section is absent)."""
    ts = spec.get("tail_sampling")
    if not ts:
        return None
    from ..operators.recombine import tail_sampling_policies

    return tail_sampling_policies(
        df,
        ts["policies"],
        trace_col=ts.get("trace_col", "conv_id"),
        rate_limit_per_minute=ts.get("rate_limit_per_minute"),
    )


def build_aggregates(df: DataFrame, spec: dict[str, Any]) -> dict[str, DataFrame]:
    from ..operators.aggregate import group_by_attrs

    out: dict[str, DataFrame] = {}
    for name, a in spec.get("aggregates", {}).items():
        out[name] = group_by_attrs(df, a["keys"])
    return out


# ---------------------------------------------------------------------------
# service::pipelines graph — connectors as pipeline edges
# ---------------------------------------------------------------------------
#
# The collector's service section wires N pipelines into a DAG where a
# connector is "used as an exporter in one pipeline and as a receiver in
# another" (connector/countconnector/README.md:51-63 shows count bridging
# traces/in -> metrics/out). The core graph builder rejects connectors that
# are exported-to but never received-from (and vice versa) and cyclic
# topologies. Here each connector edge IS a DataFrame: the union of its
# producer pipelines' terminal frames with the connector op applied.
# Frames are memoized per pipeline/connector so the graph builds once, but
# Spark actions on different sinks re-evaluate shared ancestry — when
# several heavy sinks hang off one pipeline, persist that frame first
# (job.py's sink fan-out does exactly this) or write once partitioned by
# route (operators/route.py write_sinks_partitioned).

_CONNECTOR_TYPES = {"forward", "count", "sum"}


def validate_service(service: dict[str, Any]) -> None:
    if not isinstance(service, dict):
        raise ValueError(f"service must be a mapping, got {type(service).__name__}")
    unknown = {k for k in service} - {"pipelines", "connectors"}
    if unknown:
        raise ValueError(f"unknown service sections: {sorted(map(str, unknown))}")
    pipelines = service.get("pipelines")
    if not pipelines or not isinstance(pipelines, dict):
        raise ValueError("service.pipelines must be a non-empty mapping")
    connectors = service.get("connectors") or {}
    if not isinstance(connectors, dict):
        raise ValueError("service.connectors must be a mapping")
    for cname, c in connectors.items():
        if not isinstance(c, dict):
            raise ValueError(f"connector {cname}: config must be a mapping")
        ctype = c.get("type")
        # unhashable garbage (a list/dict 'type') must be a clean
        # ValueError, not a TypeError from the set membership test
        if not isinstance(ctype, str) or ctype not in _CONNECTOR_TYPES:
            raise ValueError(
                f"connector {cname}: type must be one of {sorted(_CONNECTOR_TYPES)}"
            )
        if c["type"] in ("count", "sum") and not c.get("dims"):
            raise ValueError(f"connector {cname}: dims is required")
        if c["type"] == "sum" and not c.get("source"):
            raise ValueError(f"connector {cname}: source is required")

    exported, received = set(), set()
    for pname, p in pipelines.items():
        if not isinstance(p, dict):
            raise ValueError(f"pipeline {pname}: config must be a mapping")
        if not p.get("receivers") or not isinstance(p["receivers"], list):
            raise ValueError(f"pipeline {pname}: receivers must be a non-empty list")
        if not p.get("exporters") or not isinstance(p["exporters"], list):
            raise ValueError(f"pipeline {pname}: exporters must be a non-empty list")
        for r in p["receivers"]:
            if isinstance(r, str):
                if r not in connectors:
                    raise ValueError(f"pipeline {pname}: unknown connector receiver {r!r}")
                received.add(r)
            elif not isinstance(r, dict) or not ("path" in r or "table" in r):
                raise ValueError(f"pipeline {pname}: source receiver needs path or table")
        for e in p["exporters"]:
            if not isinstance(e, str):
                raise ValueError(f"pipeline {pname}: exporters must be connector names or sink:NAME strings")
            if e.startswith("sink:"):
                continue
            if e not in connectors:
                raise ValueError(f"pipeline {pname}: unknown exporter {e!r} (connectors or sink:NAME)")
            exported.add(e)
        spec = p.get("spec", {})
        if not isinstance(spec, dict):
            raise ValueError(f"pipeline {pname}: spec must be a mapping")
        if any(isinstance(r, str) for r in p["receivers"]):
            for key in ("parse", "stanza_operators"):
                if key in spec:
                    raise ValueError(
                        f"pipeline {pname}: connector-fed pipelines are already structured; drop '{key}'"
                    )
        _validate_sections({k: v for k, v in spec.items() if k != "parse"})
    # the core graph builder's connectivity errors
    for cname in connectors:
        if cname not in exported:
            raise ValueError(f"connector {cname!r} is not used as an exporter in any pipeline")
        if cname not in received:
            raise ValueError(f"connector {cname!r} is not used as a receiver in any pipeline")


def build_service(spark: SparkSession, service: dict[str, Any]) -> dict[str, Any]:
    """Compile the whole service graph. Returns
    {"pipelines": {name: terminal DataFrame}, "sinks": {sink_name: DataFrame}}.
    Cycles fail loudly (the collector also rejects cyclic service graphs)."""
    from ..operators.aggregate import count_connector, sum_connector

    validate_service(service)
    pipelines = service["pipelines"]
    connectors = service.get("connectors", {})
    producers: dict[str, list[str]] = {c: [] for c in connectors}
    for pname, p in pipelines.items():
        for e in p["exporters"]:
            if not e.startswith("sink:"):
                producers[e].append(pname)

    pipe_memo: dict[str, DataFrame] = {}
    conn_memo: dict[str, DataFrame] = {}

    def pipeline_frame(pname: str, stack: tuple[str, ...]) -> DataFrame:
        if pname in pipe_memo:
            return pipe_memo[pname]
        if pname in stack:
            raise ValueError(f"cyclic service graph: {' -> '.join(stack)} -> {pname}")
        p = pipelines[pname]
        spec = dict(p.get("spec", {}))
        parts = []
        connector_fed = False
        for r in p["receivers"]:
            if isinstance(r, str):
                parts.append(connector_frame(r, stack + (pname,)))
                connector_fed = True
            else:
                raw = spark.read.parquet(r["path"]) if "path" in r else spark.read.table(r["table"])
                parts.append(_parse_stage(raw, spec))
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra, allowMissingColumns=True)
        if spec.get("stanza_operators_post"):
            from .stanza_chain import apply_stanza_operators

            df = apply_stanza_operators(df, spec["stanza_operators_post"])
        if connector_fed:
            # connector outputs are aggregates; the transcript ordering
            # window does not apply unless the spec asks for it
            spec.setdefault("order", {"enabled": False})
        spec.pop("parse", None)
        spec.pop("stanza_operators", None)
        spec.pop("stanza_operators_post", None)
        out = _apply_sections(spark, df, spec)
        pipe_memo[pname] = out
        return out

    def connector_frame(cname: str, stack: tuple[str, ...]) -> DataFrame:
        if cname in conn_memo:
            return conn_memo[cname]
        c = connectors[cname]
        ins = [pipeline_frame(pn, stack) for pn in producers[cname]]
        df = ins[0]
        for extra in ins[1:]:
            df = df.unionByName(extra, allowMissingColumns=True)
        kind = c["type"]
        if kind == "count":
            out = count_connector(
                df, c["dims"], condition=c.get("condition"),
                default_value=c.get("default_value", "null"),
                out_col=c.get("out_col", "log_count"),
            )
        elif kind == "sum":
            out = sum_connector(
                df, c["dims"], c["source"], condition=c.get("condition"),
                out_col=c.get("out_col", "total"),
            )
        else:  # forward: pass-through bridge (core forwardconnector)
            out = df
        conn_memo[cname] = out
        return out

    sinks: dict[str, DataFrame] = {}
    for pname, p in pipelines.items():
        frame = pipeline_frame(pname, ())
        for e in p["exporters"]:
            if e.startswith("sink:"):
                sinks[e[len("sink:"):]] = frame
    return {"pipelines": pipe_memo, "sinks": sinks}
