"""Span-shaped operators: slow-SQL extraction, SQL digesting, and
counter-reset adjustment.

References:
  - slow_sql connector (connector/slowsqlconnector/connector_logs.go:50-96):
    client spans whose duration >= threshold and whose `db.system` is in
    the configured allowlist become log records carrying the span dims.
  - metricstarttimeprocessor (processor/metricstarttimeprocessor/): the
    true-reset-point strategy re-anchors cumulative series at counter
    resets. The batch analogue below rebases a sawtooth counter into a
    monotone cumulative: at each reset (value < previous), the previous
    value is added to a running carry (the Prometheus rate()-style reset
    correction), all in one window pass.

All pure-columnar; the only shuffle in any of these is the per-series
window sort in `counter_reset_adjust` and the digest group-by.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_DB_SYSTEMS = ["h2", "mongodb", "mssql", "mysql", "oracle", "postgresql", "mariadb"]


# --- slow_sql connector -----------------------------------------------------
def slow_sql_logs(
    df: DataFrame,
    duration_col: str = "duration_ms",
    threshold_ms: float = 500.0,
    db_systems: list[str] | None = None,
    dims: list[str] | None = None,
    statement_col: str = "db_statement",
    system_col: str = "db_system",
    kind_col: str | None = "span_kind",
) -> DataFrame:
    """connector_logs.go:70-79: keep client spans with `db.statement`
    whose duration >= threshold and db.system in the allowlist; emit one
    log row per match carrying the default dims + configured extras."""
    systems = db_systems if db_systems is not None else DEFAULT_DB_SYSTEMS
    cond = (
        F.col(statement_col).isNotNull()
        & F.col(system_col).isin(systems)
        & (F.col(duration_col) >= F.lit(float(threshold_ms)))
    )
    if kind_col is not None and kind_col in df.columns:
        cond = cond & (F.col(kind_col) == "client")
    out = df.filter(cond)
    base = [system_col, statement_col, duration_col]
    keep = [c for c in (dims or []) if c not in base] + base
    return out.select(*keep)


# --- SQL digest (engine-portable normalization; analytics extension) --------
# literal-stripping chain: quoted strings first, then standalone numbers
# (\b guards keep digits inside identifiers like `t42` intact), then
# IN-list collapse. Only \b, \d-free POSIX classes, and 'g'-global
# replacement are used so Java (Spark) and RE2 (DuckDB) agree byte-for-byte.
_SQL_NORM_STEPS: list[tuple[str, str]] = [
    (r"'[^']*'", "?"),                      # string literals
    (r"\b[0-9]+(\.[0-9]+)?\b", "?"),        # numeric literals
    (r"\(\s*\?(\s*,\s*\?)*\s*\)", "(?)"),   # IN (?, ?, ?) → (?)
]


def sql_normalize(col: Column) -> Column:
    out = col
    for pat, repl in _SQL_NORM_STEPS:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


def sql_normalize_sql(expr: str) -> str:
    """Render the identical chain as DuckDB SQL (oracle side)."""
    out = expr
    for pat, repl in _SQL_NORM_STEPS:
        # DuckDB string literals are raw (no backslash escapes) — only
        # quotes need doubling; the regex text passes through verbatim
        pat_sql = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{pat_sql}', '{repl}', 'g')"
    return f"trim({out})"


def sql_digest(
    df: DataFrame,
    statement_col: str = "db_statement",
    duration_col: str = "duration_ms",
    dims: list[str] | None = None,
) -> DataFrame:
    """Group slow statements by their normalized form (literals stripped):
    per digest — call count, total/max duration, exact p95. The rollup the
    reference leaves to the log backend, done at scan speed here."""
    dims = dims or []
    norm = sql_normalize(F.col(statement_col)).alias("digest")
    return (
        df.select(*dims, norm, F.col(duration_col).cast("double").alias("__d"))
        .groupBy(*dims, "digest")
        .agg(
            F.count(F.lit(1)).alias("calls"),
            F.round(F.sum("__d"), 6).alias("total_ms"),
            F.round(F.max("__d"), 6).alias("max_ms"),
            F.round(F.expr("percentile(__d, 0.95)"), 6).alias("p95_ms"),
        )
    )


# --- span pruning (processor/spanpruningprocessor) --------------------------
def span_pruning(
    df: DataFrame,
    group_cols: list[str],
    duration_col: str = "duration_ms",
    id_col: str = "event_id",
    min_spans: int = 2,
    outlier: str | None = "iqr",
    k: float = 1.5,
) -> DataFrame:
    """spanpruningprocessor: collapse groups of >= min_spans similar spans
    into one summary row while PRESERVING duration outliers as individual
    rows (README: IQR detection 'so a slow interior span is caught and its
    subtree kept intact'). Batch shape: one stats aggregation per group
    (exact q1/q3), broadcast back onto the rows (group-count side is tiny
    next to the fact side), then one summary aggregation over the pruned
    members — two shuffles on the group key total, no window over raw rows.

    Output: kept rows (is_summary=false, span_count=1, own duration) +
    one summary per pruned group (is_summary=true, span_count = members
    aggregated, min/max/sum over them). Groups under min_spans pass
    through unchanged."""
    d = F.col(duration_col).cast("double")
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.expr(f"percentile({duration_col}, 0.25)").alias("__q1"),
        F.expr(f"percentile({duration_col}, 0.75)").alias("__q3"),
    )
    flagged = df.join(F.broadcast(stats), group_cols)
    if outlier == "iqr":
        hi = F.col("__q3") + F.lit(float(k)) * (F.col("__q3") - F.col("__q1"))
        is_outlier = d > hi
    elif outlier is None:
        is_outlier = F.lit(False)
    else:
        raise ValueError(f"outlier must be 'iqr' or None, got {outlier!r}")
    prunable = F.col("__n") >= F.lit(int(min_spans))
    kept = flagged.filter(~prunable | is_outlier).select(
        *group_cols,
        F.col(id_col),
        F.lit(False).alias("is_summary"),
        F.lit(1).cast("bigint").alias("span_count"),
        F.round(d, 6).alias("min_ms"),
        F.round(d, 6).alias("max_ms"),
        F.round(d, 6).alias("sum_ms"),
    )
    summaries = (
        flagged.filter(prunable & ~is_outlier)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("span_count"),
            F.round(F.min(d), 6).alias("min_ms"),
            F.round(F.max(d), 6).alias("max_ms"),
            F.round(F.sum(d), 6).alias("sum_ms"),
        )
        .select(
            *group_cols,
            F.lit(None).cast(dict(df.dtypes)[id_col]).alias(id_col),
            F.lit(True).alias("is_summary"),
            "span_count",
            "min_ms",
            "max_ms",
            "sum_ms",
        )
    )
    return kept.unionByName(summaries)


# --- counter reset adjustment (metricstarttime true-reset analogue) ---------
def counter_reset_adjust(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str = "value",
    out_col: str = "adjusted",
) -> DataFrame:
    """Rebase a resetting counter into a monotone cumulative: wherever the
    value drops below its predecessor (a reset), the predecessor's value
    joins a running carry added to every later point — the Prometheus
    reset-correction rule, one sort + two stacked windows per series."""
    w = Window.partitionBy(*series_cols).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(F.col(value_col)).over(w)
    reset_carry = F.when(prev.isNotNull() & (F.col(value_col) < prev), prev).otherwise(F.lit(0.0))
    return df.withColumn(out_col, F.round(F.col(value_col) + F.sum(reset_carry).over(run), 6))


def _csv_map(raw: Column) -> Column:
    """Tag CSV ('k=v,k=v', values split on the FIRST '=') → map, LAST
    occurrence of a duplicate key winning — Jaeger tags are a repeated
    list, so duplicate keys are legal on the wire and the reference's
    sequential PutStr gives last-wins; str_to_map would instead throw
    under Spark's default mapKeyDedupPolicy=EXCEPTION and fail the batch
    on one such span. Limitation (shared with the decoders' CSV render):
    a value containing a literal ',' or '=' is ambiguous in this summary
    format and splits — delimiter-bearing values need the full wire row,
    not the CSV."""
    pairs = F.split(raw, ",")
    ent = F.transform(
        pairs,
        lambda p: F.struct(
            F.substring_index(p, "=", 1).alias("k"),
            F.when(F.instr(p, "=") > 0, F.substr(p, F.instr(p, "=") + F.lit(1))).alias("v"),
        ),
    )
    keys = F.array_distinct(F.transform(ent, lambda e: e["k"]))
    merged = F.transform(
        keys,
        lambda k: F.struct(
            k.alias("k"),
            F.aggregate(
                ent,
                F.lit(None).cast("string"),
                lambda acc, e: F.when(e["k"] == k, e["v"]).otherwise(acc),
            ).alias("v"),
        ),
    )
    return F.map_from_entries(merged)


def jaeger_tags_to_otlp(df: DataFrame, tags_col: str = "jt_tags_csv") -> DataFrame:
    """Jaeger tag conventions → OTLP span fields
    (pkg/translator/jaeger/jaegerproto_to_traces.go:212-471): the semantic
    half of the Jaeger receiver path, applied over the decoded tag CSV
    the wire modules emit (sorted ``k=v`` pairs; values are the decoders'
    canonical renders, so the reference's bool-typed checks become
    'true'/'false' string checks here).

      - ``span.kind`` tag → kind ('client'/'server'/'producer'/'consumer'/
        'internal', else 'unspecified'); tag consumed.
      - status precedence (setInternalSpanStatus:268-330): a BOOL ``error``
        tag that is true wins (code=error, message from
        ``otel.status_description`` else ``http.status_message``; error +
        used description consumed); else ``otel.status_code`` (upper-cased
        OK/ERROR match, message from the description; the code tag is
        consumed even when the error tag already decided); else the HTTP
        code fallback (``http.status_code`` or ``http.response.status_code``,
        integer-parseable only): 4xx → error for client kind / unset for
        server, otherwise 100..398 → unset, else error — status only SET
        when the derived code isn't unset, message from
        ``http.status_message`` (never consumed).
      - ``w3c.tracestate`` → trace_state; consumed.

    Adds (otlp_kind, otlp_status_set, otlp_status_code,
    otlp_status_message, otlp_trace_state, attrs_rest_csv). Pure
    projection; one str_to_map + map algebra, zero shuffle."""
    if "_jm" in df.columns:
        raise ValueError("jaeger_tags_to_otlp stages an internal `_jm` column; rename the input's")
    raw = F.col(tags_col)
    staged = df.select(
        "*",
        F.when(raw.isNotNull() & (raw != ""), _csv_map(raw)).otherwise(
            F.create_map().cast("map<string,string>")
        ).alias("_jm"),
    )
    m = F.col("_jm")
    kind_raw = F.element_at(m, "span.kind")
    kind = (
        F.when(kind_raw.isin("client", "server", "producer", "consumer", "internal"), kind_raw)
        .otherwise(F.lit("unspecified"))
    )
    err = F.element_at(m, "error")
    st1 = err == "true"  # bool-typed true per the decoders' render
    osc = F.element_at(m, "otel.status_code")
    osd = F.element_at(m, "otel.status_description")
    hsm = F.element_at(m, "http.status_message")
    hraw = F.coalesce(
        F.element_at(m, "http.status_code"), F.element_at(m, "http.response.status_code")
    )
    hcode = hraw.try_cast("long")  # NULL when not integer-parseable (codeFromAttr err)
    http_code = (
        F.when(hcode.between(400, 499) & (kind == "client"), F.lit("error"))
        .when(hcode.between(400, 499) & (kind == "server"), F.lit("unset"))
        .when(hcode.between(100, 398), F.lit("unset"))  # StatusCodeFromHTTP: >=100 && <399
        .otherwise(F.lit("error"))
    )
    http_branch = ~F.coalesce(st1, F.lit(False)) & osc.isNull() & hcode.isNotNull()
    st1b = F.coalesce(st1, F.lit(False))
    status_set = st1b | osc.isNotNull() | (http_branch & (http_code != "unset"))
    status_code = (
        F.when(st1b, F.lit("error"))
        .when(
            osc.isNotNull(),
            F.when(F.upper(osc) == "OK", F.lit("ok"))
            .when(F.upper(osc) == "ERROR", F.lit("error"))
            .otherwise(F.lit("unset")),
        )
        .when(http_branch & (http_code != "unset"), http_code)
        .otherwise(F.lit("unset"))
    )
    status_message = (
        F.when(st1b, F.coalesce(osd, hsm, F.lit("")))
        .when(osc.isNotNull(), F.coalesce(osd, F.lit("")))
        .when(http_branch & (http_code != "unset"), F.coalesce(hsm, F.lit("")))
        .otherwise(F.lit(""))
    )
    trace_state = F.coalesce(F.element_at(m, "w3c.tracestate"), F.lit(""))
    osd_consumed = (st1b & osd.isNotNull()) | (~st1b & osc.isNotNull() & osd.isNotNull())
    rest = F.map_filter(
        m,
        lambda k, _v: ~(
            (k == "span.kind")
            | ((k == "error") & st1b)
            | (k == "otel.status_code")
            | ((k == "otel.status_description") & osd_consumed)
            | (k == "w3c.tracestate")
        ),
    )
    from .parse import sorted_kv_csv

    rest_csv = sorted_kv_csv(rest)
    return staged.select(
        *df.columns,
        kind.alias("otlp_kind"),
        status_set.alias("otlp_status_set"),
        status_code.alias("otlp_status_code"),
        status_message.alias("otlp_status_message"),
        trace_state.alias("otlp_trace_state"),
        rest_csv.alias("attrs_rest_csv"),
    )


def zipkin_tags_to_otlp(
    df: DataFrame, kind_col: str = "zk_kind", tags_col: str = "zk_tags_csv"
) -> DataFrame:
    """Zipkin v2 tag conventions → OTLP span fields
    (pkg/translator/zipkin/zipkinv2/to_translator.go:245-282,623-631) over
    the decoded (kind, tag CSV) columns. The rules differ from Jaeger's
    deliberately — mirror them exactly:

      - kind: the wire kind enum wins; only when it is absent does a
        ``span.kind`` tag get consulted (and consumed regardless of its
        value), recognizing only 'internal'.
      - ``otel.status_code``: matched against BOTH naming generations
        (STATUS_CODE_* and the older Unset/Ok/Error); an unrecognized
        value maps to unset via the Go zero value. The code tag is
        consumed; the description is applied + consumed only when the
        code tag was present.
      - ``error``: ANY value sets code=error (presence semantics), but
        the tag is consumed only when the value is exactly 'true' —
        ``error=false`` still reads as an error and stays an attribute.

    Adds (otlp_kind, otlp_status_set, otlp_status_code,
    otlp_status_message, attrs_rest_csv). Pure projection."""
    if "_zm" in df.columns:
        raise ValueError("zipkin_tags_to_otlp stages an internal `_zm` column; rename the input's")
    raw = F.col(tags_col)
    staged = df.select(
        "*",
        F.when(raw.isNotNull() & (raw != ""), _csv_map(raw)).otherwise(
            F.create_map().cast("map<string,string>")
        ).alias("_zm"),
    )
    m = F.col("_zm")
    wire_kind = F.upper(F.col(kind_col))
    kind_tag = F.element_at(m, "span.kind")
    wire_known = wire_kind.isin("CLIENT", "SERVER", "PRODUCER", "CONSUMER")
    kind = (
        F.when(wire_known, F.lower(wire_kind))
        .when(kind_tag == "internal", F.lit("internal"))
        .otherwise(F.lit("unspecified"))
    )
    osc = F.element_at(m, "otel.status_code")
    osd = F.element_at(m, "otel.status_description")
    code_map = F.create_map(
        *[F.lit(x) for kv in {
            "STATUS_CODE_UNSET": "unset", "STATUS_CODE_OK": "ok", "STATUS_CODE_ERROR": "error",
            "Unset": "unset", "Ok": "ok", "Error": "error",
        }.items() for x in kv]
    )
    osc_code = F.coalesce(F.element_at(code_map, osc), F.lit("unset"))  # Go map zero value
    err = F.element_at(m, "error")
    status_code = (
        F.when(err.isNotNull(), F.lit("error"))
        .when(osc.isNotNull(), osc_code)
        .otherwise(F.lit("unset"))
    )
    status_set = osc.isNotNull() | err.isNotNull()
    status_message = F.when(osc.isNotNull(), F.coalesce(osd, F.lit(""))).otherwise(F.lit(""))
    rest = F.map_filter(
        m,
        lambda k, v: ~(
            (k == "otel.status_code")
            | ((k == "otel.status_description") & osc.isNotNull())
            | ((k == "error") & (v == "true"))
            | ((k == "span.kind") & ~wire_known)
        ),
    )
    from .parse import sorted_kv_csv

    rest_csv = sorted_kv_csv(rest)
    return staged.select(
        *df.columns,
        kind.alias("otlp_kind"),
        status_set.alias("otlp_status_set"),
        status_code.alias("otlp_status_code"),
        status_message.alias("otlp_status_message"),
        rest_csv.alias("attrs_rest_csv"),
    )

