"""Generic event-ingest receivers re-expressed over table columns:
webhookeventreceiver, osqueryreceiver, macosunifiedloggingreceiver.

Each reference component couples a host/network surface (HTTP server,
osquery socket, `log show` subprocess) to a small, well-defined
record-mapping. The surfaces are out of scope (our ingress is a table);
THESE operators are the mappings, applied to the payload columns a spool
bridge or upstream job delivers.

- webhook_events — receiver/webhookeventreceiver/req_to_log.go:30-135:
  one request body → log records under three split modes (whole body,
  split_logs_at_new_line, split at JSON boundaries via a streaming
  decoder with raw-text preservation and a fall-back to the raw body),
  include_headers_regex filtering headers into `header.<Name>` list
  attributes, query parameters becoming resource attributes (empty
  values skipped).
- osquery_logs — receiver/osqueryreceiver/osquery.go:83-99: each result
  row of a query becomes a log record whose body is the query text and
  whose attributes are the row's column map.
- macos_log_lines — receiver/macosunifiedloggingreceiver/
  receiver_darwin.go:259-342: `log show` output lines → body-preserving
  records; ndjson/json styles additionally parse `timestamp` and map
  `messageType` to severity (Error→ERROR, Fault→FATAL, Default/Info→INFO,
  Debug→DEBUG); completion/status lines (`**` banners and the
  {"count":…,"finished":…} trailer) are filtered out.

Everything is native Spark except the JSON-boundary splitter, which is an
Arrow-batched pandas UDF (a streaming raw_decode walk has no Catalyst
equivalent); the observed-timestamp stamps (time.Now() in the reference)
are omitted for determinism."""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.ArrayType(T.StringType()))
def _split_json_objects(bodies: pd.Series) -> pd.Series:
    """splitJSONObjects (req_to_log.go:114-135): walk the body with a
    streaming decoder, emitting each top-level JSON value's ORIGINAL text;
    when nothing decodes, the whole body passes through untouched."""
    dec = json.JSONDecoder()
    out = []
    for body in bodies:
        if body is None:
            out.append(None)
            continue
        parts: list[str] = []
        i, n = 0, len(body)
        while i < n:
            while i < n and body[i].isspace():
                i += 1
            if i >= n:
                break
            try:
                _, end = dec.raw_decode(body, i)
            except ValueError:
                break
            parts.append(body[i:end])
            i = end
        out.append(parts if parts else [body])
    return pd.Series(out)


def webhook_events(
    df: DataFrame,
    body: str = "body",
    headers: str | None = None,
    query: str | None = None,
    split: str = "none",
    include_headers_regex: str | None = None,
) -> DataFrame:
    """One output row per webhook log record. `headers` is a
    map<string, array<string>> column, `query` a map<string,string>.
    Adds wh_body plus wh_headers_csv (`header.<Name>=[v1|v2]`, matching
    keys only, sorted) and wh_resource_csv (non-empty query params,
    sorted) — the CSV renders of the reference's attribute maps."""
    if split == "newline":
        parts = F.split(F.col(body), "\n")
    elif split == "json":
        parts = _split_json_objects(F.col(body))
    elif split == "none":
        parts = F.array(F.col(body))
    else:
        raise ValueError(f"unknown split mode {split!r}")
    out = df.withColumn("wh_body", F.explode(parts))
    if headers is not None and include_headers_regex is not None:
        # native HOFs with the regex as a Column literal — splicing the
        # pattern into a SQL expr string would mangle backslash classes
        # (\\d collapses under SQL literal escaping) and break on quotes
        matched = F.map_filter(
            F.col(headers), lambda k, v: k.rlike(include_headers_regex)
        )
        out = out.withColumn(
            "wh_headers_csv",
            F.array_join(
                F.sort_array(
                    F.transform(
                        F.map_entries(matched),
                        lambda e: F.concat(
                            F.lit("header."), e.getField("key"), F.lit("=["),
                            F.array_join(e.getField("value"), "|"), F.lit("]"),
                        ),
                    )
                ),
                ",",
            ),
        )
    else:
        out = out.withColumn("wh_headers_csv", F.lit(None).cast("string"))
    if query is not None:
        out = out.withColumn(
            "wh_resource_csv",
            F.array_join(
                F.sort_array(
                    F.expr(
                        f"transform(map_entries(map_filter({query},"
                        " (k, v) -> v is not null and v != '')),"
                        " e -> concat(e.key, '=', e.value))"
                    )
                ),
                ",",
            ),
        )
    else:
        out = out.withColumn("wh_resource_csv", F.lit(None).cast("string"))
    return out


def osquery_logs(df: DataFrame, query_col: str = "query", rows_col: str = "rows_json") -> DataFrame:
    """osquery.go queryToLogs: `rows_col` holds the query's result as a
    JSON array of string→string objects; each row becomes a record with
    os_body = the query text and os_attrs_csv = the row's columns as
    sorted k=v pairs. Queries with no rows (or malformed results) emit
    nothing — the reference appends no records for them either."""
    rows = F.from_json(F.col(rows_col), "array<map<string,string>>")
    out = df.withColumn("_os_row", F.explode(rows))
    return out.select(
        *[F.col(f.name) for f in df.schema.fields],
        F.col(query_col).alias("os_body"),
        F.array_join(
            F.sort_array(
                F.expr("transform(map_entries(_os_row), e -> concat(e.key, '=', e.value))")
            ),
            ",",
        ).alias("os_attrs_csv"),
    )


# messageType → (severity text passthrough, OTel severity number)
_MACOS_SEV_NUM = {"Error": 17, "Fault": 21, "Default": 9, "Info": 9, "Debug": 5}


def macos_log_lines(df: DataFrame, line_col: str = "line", fmt: str = "ndjson") -> DataFrame:
    """`log show --style {fmt}` lines → records. Completion lines drop
    (isCompletionLine, receiver_darwin.go:311-342). For the JSON styles,
    ml_ts_us parses the fixed `2006-01-02 15:04:05.000000-0700` layout
    (unparsable → NULL; the reference leaves the timestamp unset) and
    messageType maps to severity; other styles carry the body only."""
    line = F.trim(F.col(line_col))
    is_completion = line.startswith("**") | (
        line.startswith("{") & line.endswith("}")
        & line.contains('"count"') & line.contains('"finished"')
    )
    out = df.filter((line != "") & ~is_completion).withColumn("ml_body", F.col(line_col))
    if fmt in ("ndjson", "json"):
        entry = F.from_json(
            F.col(line_col), "struct<timestamp:string,messageType:string>"
        )
        sev_map = F.create_map(
            *[F.lit(x) for kv in _MACOS_SEV_NUM.items() for x in kv]
        )
        out = (
            out.withColumn(
                "ml_ts_us",
                F.unix_micros(
                    F.try_to_timestamp(
                        entry.getField("timestamp"),
                        F.lit("yyyy-MM-dd HH:mm:ss.SSSSSSxx"),
                    )
                ),
            )
            .withColumn("ml_severity_text", entry.getField("messageType"))
            .withColumn(
                "ml_severity_num",
                F.coalesce(
                    sev_map[entry.getField("messageType")], F.lit(0)
                ).cast("int"),
            )
        )
    else:
        out = (
            out.withColumn("ml_ts_us", F.lit(None).cast("long"))
            .withColumn("ml_severity_text", F.lit(None).cast("string"))
            .withColumn("ml_severity_num", F.lit(0))
        )
    return out
