"""Elasticsearch document routing — ``exporter/elasticsearchexporter``'s
data-stream router (data_stream_router.go:56-262, attribute.go:8-28,
util.go:14-29) as one codegen projection.

Every document resolves an index name by the reference's precedence:

  1. ``elasticsearch.index`` attribute (record > scope > resource) wins
     verbatim (data_stream_router.go:190-194);
  2. ``data_stream.dataset`` / ``data_stream.namespace`` attributes with
     the same record > scope > resource precedence (defaults
     "generic"/"default", attribute.go:10-12);
  3. scope-based dataset routing ONLY when no dataset attribute exists
     (:212-216): collector self-telemetry scopes → "collectortelemetry",
     else a non-empty ``encoding.format`` scope attribute, else the
     ``/receiver/(\\w+receiver)`` / ``/connector/(\\w+connector)``
     capture from the scope name (:18-21, :228-261);
  4. sanitization (:56-70): lowercase, disallowed runes → "_"
     (dataset additionally disallows "-"), truncate to 100 bytes minus
     the suffix, then append the suffix — ".otel" on the dataset in the
     OTel mapping mode (:219-224);
  5. final index = ``{type}-{dataset}-{namespace}``; the signal decides
     the default type (logs/metrics/traces), and the ``bodymap`` mode may
     override it from attributes, invalid types erroring → NULL index
     here (on_error=drop convention).

Truncation counts characters, not bytes — identical on ASCII index
material; multi-byte dataset names may keep more runes than Go's byte
slice (documented trade for staying native).

All map lookups/regex/translate are Column expressions: scan-speed, no
Python, no shuffle; the index column then feeds partitionBy fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DISALLOWED_NAMESPACE = "\\/*?\"<>| ,#:"
DISALLOWED_DATASET = "-" + DISALLOWED_NAMESPACE
_MAX_BYTES = 100

SELF_TELEMETRY_SCOPES = [
    "go.opentelemetry.io/collector/receiver/receiverhelper",
    "go.opentelemetry.io/collector/scraper/scraperhelper",
    "go.opentelemetry.io/collector/processor/processorhelper",
    "go.opentelemetry.io/collector/exporter/exporterhelper",
    "go.opentelemetry.io/collector/service",
]
_ALLOWED_TYPES = ["logs", "metrics", "traces", "profiles", "synthetics"]


def _get_attr(name: str, *maps: Column) -> Column:
    """getFromAttributes (attribute.go:20-27): first map that HAS the key
    wins; NULL when absent everywhere."""
    return F.coalesce(*[F.element_at(m, F.lit(name)) for m in maps])


def _sanitize(field: Column, disallowed: str, suffix: str) -> Column:
    """sanitizeDataStreamField (data_stream_router.go:56-70)."""
    cleaned = F.lower(F.translate(field, disallowed, "_" * len(disallowed)))
    return F.concat(F.substring(cleaned, 1, _MAX_BYTES - len(suffix)), F.lit(suffix))


def _scope_dataset(scope_name: Column, scope_attrs: Column) -> Column:
    """applyScopeRouting (:228-261): self-telemetry, then encoding.format,
    then receiver/connector regex capture; NULL when nothing applies."""
    enc = F.element_at(scope_attrs, F.lit("encoding.format"))
    recv = F.regexp_extract(scope_name, r"/receiver/(\w+receiver)", 1)
    conn = F.regexp_extract(scope_name, r"/connector/(\w+connector)", 1)
    return (
        F.when(scope_name.isin(SELF_TELEMETRY_SCOPES), F.lit("collectortelemetry"))
        .when(enc.isNotNull() & (enc != ""), enc)
        .when(recv != "", recv)
        .when(conn != "", conn)
    )


def route_documents(
    df: DataFrame,
    mode: str = "otel",
    signal_col: str = "signal",
    record_col: str = "attrs",
    scope_attrs_col: str = "scope_attrs",
    resource_col: str = "res_attrs",
    scope_name_col: str = "scope_name",
    static_index: str | None = None,
    out_col: str = "es_index",
) -> DataFrame:
    """Resolve the target index per document (routeRecord :182-225).

    ``signal_col`` holds logs/metrics/traces and supplies the default
    data_stream.type; ``mode`` ∈ {"otel", "ecs", "bodymap"} controls the
    ``.otel`` dataset suffix and the bodymap type override.
    """
    if static_index is not None:
        return df.withColumn(out_col, F.lit(static_index))

    rec, sco, res = F.col(record_col), F.col(scope_attrs_col), F.col(resource_col)
    es_index = _get_attr("elasticsearch.index", rec, sco, res)

    ds_attr = _get_attr("data_stream.dataset", rec, sco, res)
    ns = F.coalesce(_get_attr("data_stream.namespace", rec, sco, res), F.lit("default"))

    ds_type = F.col(signal_col)
    if mode == "bodymap":
        ds_type = F.coalesce(_get_attr("data_stream.type", rec, sco, res), ds_type)

    dataset = F.coalesce(
        ds_attr, _scope_dataset(F.col(scope_name_col), sco), F.lit("generic")
    )
    suffix = ".otel" if mode == "otel" else ""
    routed = F.concat_ws(
        "-",
        ds_type,
        _sanitize(dataset, DISALLOWED_DATASET, suffix),
        _sanitize(ns, DISALLOWED_NAMESPACE, ""),
    )
    # a NULL type must NOT silently collapse to a two-segment index
    # (concat_ws skips NULLs): surface the bad row as a NULL index
    routed = F.when(ds_type.isNotNull(), routed)
    resolved = F.coalesce(es_index, routed)
    if mode == "bodymap":
        resolved = F.when(ds_type.isin(_ALLOWED_TYPES), resolved)  # else NULL = error/drop
    return df.withColumn(out_col, resolved)

