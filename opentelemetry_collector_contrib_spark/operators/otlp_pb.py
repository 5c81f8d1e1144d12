"""OTLP protobuf logs decode — the collector's NATIVE wire format (what an
`otlp` receiver gets over gRPC/HTTP), complementing the OTLP/JSON
connectors. Field numbers follow the public opentelemetry-proto schema
(`opentelemetry/proto/logs/v1/logs.proto` and `common/v1/common.proto`):

  LogsData.resource_logs = 1
  ResourceLogs{ resource = 1, scope_logs = 2, schema_url = 3 }
  Resource{ attributes = 1 }
  ScopeLogs{ scope = 1, log_records = 2 }
  InstrumentationScope{ name = 1, version = 2 }
  LogRecord{ time_unix_nano = 1 (fixed64), severity_number = 2 (varint),
             severity_text = 3, body = 5 (AnyValue), attributes = 6,
             flags = 8 (fixed32), trace_id = 9, span_id = 10,
             observed_time_unix_nano = 11 (fixed64) }
  KeyValue{ key = 1, value = 2 }
  AnyValue oneof{ string=1, bool=2, int=3, double=4, array=5, kvlist=6,
                  bytes=7 }

The module also decodes OTLP traces, number/histogram/exponential-histogram
metrics, Prometheus remote-write v1, SignalFx and SkyWalking payloads, and
holds the fixture encoders for each.

Decoding protobuf is length-prefixed binary work — like msgpack and octet
framing it is the honest Arrow-batched Python-UDF case. Each `decode_*`
walks one payload with the proto-wire reader in `_wire.py` (unknown fields
are skipped by wire type exactly as proto requires, so payloads from newer
schema revisions still decode) and returns one dict per output row; each
`parse_*` runs its decoder through `_wire.explode_decode`, the mapInArrow
kernel all row-exploding wire decoders share."""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._wire import (
    as_bytes,
    as_int64,
    enc_ld,
    enc_tag,
    enc_varint,
    explode_decode,
    iter_fields,
    packed_varints,
)


def _i32(v: int) -> int:
    """Validate an int32-typed varint (enums, temporality, kind). A value
    outside int32 range must fail INSIDE the per-payload try (-> payload
    drops) rather than later in the kernel's Arrow batch build, which is
    outside it and would fail the whole task."""
    x = as_int64(int(v))
    if not -(1 << 31) <= x < (1 << 31):
        raise ValueError(f"int32 field out of range: {x}")
    return x


def _any_value(buf: bytes) -> object:
    for fnum, _, v in iter_fields(buf):
        if fnum == 1:
            return as_bytes(v).decode("utf-8", errors="replace")
        if fnum == 2:
            return bool(v)
        if fnum == 3:
            return as_int64(v)
        if fnum == 4:
            return struct.unpack("<d", v)[0]
        if fnum == 5:  # ArrayValue{ values = 1 }
            return [_any_value(x) for f, _, x in iter_fields(as_bytes(v)) if f == 1]
        if fnum == 6:  # KeyValueList{ values = 1 }
            return dict(_key_value(x) for f, _, x in iter_fields(as_bytes(v)) if f == 1)
        if fnum == 7:
            return bytes(as_bytes(v))
    return None


def _key_value(buf: bytes) -> tuple[str, object]:
    key, val = "", None
    for fnum, _, v in iter_fields(buf):
        if fnum == 1:
            key = as_bytes(v).decode("utf-8", errors="replace")
        elif fnum == 2:
            val = _any_value(as_bytes(v))
    return key, val


def _render(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_render(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _attrs_csv(pairs: list[tuple[str, object]]) -> str | None:
    # render BEFORE sorting: duplicate keys with differently-typed values
    # are legal protobuf, and sorting raw (key, value) tuples would compare
    # int with str and TypeError the whole payload away
    items = sorted((k, "" if (r := _render(v)) is None else r) for k, v in pairs)
    return ",".join(f"{k}={v}" for k, v in items) if items else None


def decode_logs_data(payload: bytes) -> list[dict]:
    """LogsData / ExportLogsServiceRequest bytes -> one dict per LogRecord,
    resource and scope context flattened onto each row (the pdata shape)."""
    rows = []
    for f1, _, rl in iter_fields(payload):
        if f1 != 1:
            continue
        res_attrs: list[tuple[str, object]] = []
        scopes = []
        for f2, _, v2 in iter_fields(rl):
            if f2 == 1:  # Resource
                res_attrs = [_key_value(x) for f, _, x in iter_fields(v2) if f == 1]
            elif f2 == 2:
                scopes.append(v2)
        for sl in scopes:
            scope_name = None
            records = []
            for f3, _, v3 in iter_fields(sl):
                if f3 == 1:
                    for f4, _, v4 in iter_fields(v3):
                        if f4 == 1:
                            scope_name = v4.decode("utf-8", errors="replace")
                elif f3 == 2:
                    records.append(v3)
            for lr in records:
                row = {
                    "ol_ts_us": None,
                    "ol_severity_number": None,
                    "ol_severity_text": None,
                    "ol_body": None,
                    "ol_attrs_csv": None,
                    "ol_trace_id": None,
                    "ol_span_id": None,
                    "ol_scope": scope_name,
                    "ol_resource_csv": _attrs_csv(res_attrs),
                }
                attrs: list[tuple[str, object]] = []
                for f4, _, v4 in iter_fields(lr):
                    if f4 == 1:
                        row["ol_ts_us"] = struct.unpack("<Q", v4)[0] // 1000
                    elif f4 == 2:
                        row["ol_severity_number"] = _i32(v4)
                    elif f4 == 3:
                        row["ol_severity_text"] = as_bytes(v4).decode("utf-8", errors="replace")
                    elif f4 == 5:
                        row["ol_body"] = _render(_any_value(v4))
                    elif f4 == 6:
                        attrs.append(_key_value(v4))
                    elif f4 == 9:
                        row["ol_trace_id"] = bytes(as_bytes(v4)).hex()
                    elif f4 == 10:
                        row["ol_span_id"] = bytes(as_bytes(v4)).hex()
                row["ol_attrs_csv"] = _attrs_csv(attrs)
                rows.append(row)
    return rows


_OL_FIELDS = [
    T.StructField("ol_ts_us", T.LongType()),
    T.StructField("ol_severity_number", T.IntegerType()),
    T.StructField("ol_severity_text", T.StringType()),
    T.StructField("ol_body", T.StringType()),
    T.StructField("ol_attrs_csv", T.StringType()),
    T.StructField("ol_trace_id", T.StringType()),
    T.StructField("ol_span_id", T.StringType()),
    T.StructField("ol_scope", T.StringType()),
    T.StructField("ol_resource_csv", T.StringType()),
]


def parse_otlp_pb_logs(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per LogRecord in each OTLP-protobuf payload. Malformed
    payloads drop (receiver rejects the request). Arrow-batched."""
    return explode_decode(df, source, _OL_FIELDS, decode_logs_data)


# --- encode side (fixtures/tests only) ---------------------------------------


def enc_any(v) -> bytes:
    if v is None:
        return b""  # AnyValue with no oneof member set
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()  # pandas hands numpy scalars to per-column encoders
    if isinstance(v, bool):
        return enc_tag(2, 0) + enc_varint(1 if v else 0)
    if isinstance(v, str):
        return enc_ld(1, v.encode("utf-8"))
    if isinstance(v, int):
        return enc_tag(3, 0) + enc_varint(v)
    if isinstance(v, float):
        return enc_tag(4, 1) + struct.pack("<d", v)
    if isinstance(v, bytes):
        return enc_ld(7, v)
    if isinstance(v, list):
        return enc_ld(5, b"".join(enc_ld(1, enc_any(x)) for x in v))
    if isinstance(v, dict):
        return enc_ld(6, b"".join(enc_ld(1, enc_kv(k, x)) for k, x in v.items()))
    raise TypeError(type(v))


def enc_kv(k: str, v) -> bytes:
    return enc_ld(1, k.encode("utf-8")) + enc_ld(2, enc_any(v))


def enc_log_record(
    ts_ns: int,
    body,
    severity_number: int = 0,
    severity_text: str | None = None,
    attrs: dict | None = None,
    trace_id: bytes | None = None,
    span_id: bytes | None = None,
) -> bytes:
    out = enc_tag(1, 1) + struct.pack("<Q", ts_ns)
    if severity_number:
        out += enc_tag(2, 0) + enc_varint(severity_number)
    if severity_text is not None:
        out += enc_ld(3, severity_text.encode("utf-8"))
    out += enc_ld(5, enc_any(body))
    for k, v in (attrs or {}).items():
        out += enc_ld(6, enc_kv(k, v))
    if trace_id:
        out += enc_ld(9, trace_id)
    if span_id:
        out += enc_ld(10, span_id)
    return out


def enc_logs_data(
    records: list[bytes], resource_attrs: dict | None = None, scope_name: str | None = None
) -> bytes:
    resource = b"".join(enc_ld(1, enc_kv(k, v)) for k, v in (resource_attrs or {}).items())
    scope = enc_ld(1, scope_name.encode("utf-8")) if scope_name else b""
    scope_logs = enc_ld(1, scope) + b"".join(enc_ld(2, r) for r in records)
    resource_logs = enc_ld(1, resource) + enc_ld(2, scope_logs)
    return enc_ld(1, resource_logs)


def synthesize_otlp_pb(df: DataFrame, id_col: str = "event_id", cols: dict | None = None) -> DataFrame:
    """Deterministic per-row OTLP-protobuf payloads: two LogRecords per
    payload (INFO string body + ERROR kvlist body with int/double/bool
    attr types), resource + scope context, trace/span ids derived from the
    id. `cols` maps attribute keys to input columns."""
    cols = cols or {}
    keys = sorted(cols)
    in_cols = [id_col, *[cols[k] for k in keys]]

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, *vals: pd.Series) -> pd.Series:
        out = []
        for j, i in enumerate(ids):
            i = int(i)
            attrs = {k: vals[n].iloc[j] for n, k in enumerate(keys)}
            attrs = {
                k: (int(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v)
                for k, v in attrs.items()
            }
            ts = (1_700_000_000 + i % 86400) * 1_000_000_000 + (i % 1000) * 1_000_000
            r1 = enc_log_record(
                ts, f"started job {i}", 9, "INFO", attrs,
                trace_id=i.to_bytes(16, "big"), span_id=(i % 65536).to_bytes(8, "big"),
            )
            r2 = enc_log_record(
                ts + 1_000_000, {"msg": f"fail {i}", "code": i % 7, "fatal": i % 2 == 0},
                17, "ERROR", {"retry": True, "ratio": 0.5},
            )
            out.append(enc_logs_data([r1, r2], {"service.name": f"svc-{i % 4}"}, "lib"))
        return pd.Series(out)

    return df.withColumn("payload", gen(*[F.col(c) for c in in_cols]))


# --- traces (trace.proto) -----------------------------------------------------
# ResourceSpans{ resource=1, scope_spans=2 }; ScopeSpans{ scope=1, spans=2 }
# Span{ trace_id=1, span_id=2, parent_span_id=4, name=5, kind=6 (varint),
#       start_time_unix_nano=7 (fixed64), end_time_unix_nano=8 (fixed64),
#       attributes=9, status=15{ message=2, code=3 (varint) } }

_SPAN_FIELDS = [
    T.StructField("sp_trace_id", T.StringType()),
    T.StructField("sp_span_id", T.StringType()),
    T.StructField("sp_parent_span_id", T.StringType()),
    T.StructField("sp_name", T.StringType()),
    T.StructField("sp_kind", T.IntegerType()),
    T.StructField("sp_start_us", T.LongType()),
    T.StructField("sp_end_us", T.LongType()),
    T.StructField("sp_status_code", T.IntegerType()),
    T.StructField("sp_attrs_csv", T.StringType()),
    T.StructField("sp_resource_csv", T.StringType()),
]


def decode_traces_data(payload: bytes) -> list[dict]:
    rows = []
    for f1, _, rs in iter_fields(payload):
        if f1 != 1:
            continue
        res_attrs: list[tuple[str, object]] = []
        scope_spans = []
        for f2, _, v2 in iter_fields(rs):
            if f2 == 1:
                res_attrs = [_key_value(x) for f, _, x in iter_fields(v2) if f == 1]
            elif f2 == 2:
                scope_spans.append(v2)
        for ss in scope_spans:
            for f3, _, sp in iter_fields(ss):
                if f3 != 2:
                    continue
                row = dict.fromkeys(
                    ("sp_trace_id", "sp_span_id", "sp_parent_span_id", "sp_name",
                     "sp_kind", "sp_start_us", "sp_end_us", "sp_status_code",
                     "sp_attrs_csv"),
                )
                row["sp_resource_csv"] = _attrs_csv(res_attrs)
                attrs: list[tuple[str, object]] = []
                for f4, _, v4 in iter_fields(sp):
                    if f4 == 1:
                        row["sp_trace_id"] = bytes(as_bytes(v4)).hex()
                    elif f4 == 2:
                        row["sp_span_id"] = bytes(as_bytes(v4)).hex()
                    elif f4 == 4:
                        row["sp_parent_span_id"] = bytes(as_bytes(v4)).hex()
                    elif f4 == 5:
                        row["sp_name"] = v4.decode("utf-8", errors="replace")
                    elif f4 == 6:
                        row["sp_kind"] = _i32(v4)
                    elif f4 == 7:
                        row["sp_start_us"] = struct.unpack("<Q", v4)[0] // 1000
                    elif f4 == 8:
                        row["sp_end_us"] = struct.unpack("<Q", v4)[0] // 1000
                    elif f4 == 9:
                        attrs.append(_key_value(v4))
                    elif f4 == 15:
                        for f5, _, v5 in iter_fields(v4):
                            if f5 == 3:
                                row["sp_status_code"] = _i32(v5)
                row["sp_attrs_csv"] = _attrs_csv(attrs)
                rows.append(row)
    return rows


def parse_otlp_pb_traces(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per Span in each OTLP-protobuf TracesData payload."""
    return explode_decode(df, source, _SPAN_FIELDS, decode_traces_data)


# --- metrics (metrics.proto, number datapoints) -------------------------------
# ResourceMetrics{ resource=1, scope_metrics=2 }; ScopeMetrics{ metrics=2 }
# Metric{ name=1, description=2, unit=3, gauge=5, sum=7 }
# Gauge{ data_points=1 }; Sum{ data_points=1, aggregation_temporality=2,
# is_monotonic=3 }; NumberDataPoint{ start_time_unix_nano=2 (fixed64),
# time_unix_nano=3 (fixed64), as_double=4 (double), as_int=6 (sfixed64),
# attributes=7 }

_NUMDP_FIELDS = [
    T.StructField("mt_name", T.StringType()),
    T.StructField("mt_unit", T.StringType()),
    T.StructField("mt_type", T.StringType()),
    T.StructField("mt_temporality", T.IntegerType()),
    T.StructField("mt_monotonic", T.BooleanType()),
    T.StructField("mt_ts_us", T.LongType()),
    T.StructField("mt_value", T.DoubleType()),
    T.StructField("mt_is_int", T.BooleanType()),
    T.StructField("mt_attrs_csv", T.StringType()),
]


def _number_dp(buf: bytes) -> dict:
    dp = {"mt_ts_us": None, "mt_value": None, "mt_is_int": None, "mt_attrs_csv": None}
    attrs: list[tuple[str, object]] = []
    for f, _, v in iter_fields(buf):
        if f == 3:
            dp["mt_ts_us"] = struct.unpack("<Q", v)[0] // 1000
        elif f == 4:
            dp["mt_value"] = struct.unpack("<d", v)[0]
            dp["mt_is_int"] = False
        elif f == 6:
            dp["mt_value"] = float(struct.unpack("<q", v)[0])
            dp["mt_is_int"] = True
        elif f == 7:
            attrs.append(_key_value(v))
    dp["mt_attrs_csv"] = _attrs_csv(attrs)
    return dp


def decode_metrics_data(payload: bytes) -> list[dict]:
    rows = []
    for f1, _, rm in iter_fields(payload):
        if f1 != 1:
            continue
        for f2, _, sm in iter_fields(rm):
            if f2 != 2:
                continue
            for f3, _, metric in iter_fields(sm):
                if f3 != 2:
                    continue
                name = unit = None
                dps = []
                for f4, _, v4 in iter_fields(metric):
                    if f4 == 1:
                        name = v4.decode("utf-8", errors="replace")
                    elif f4 == 3:
                        unit = v4.decode("utf-8", errors="replace")
                    elif f4 in (5, 7):  # gauge / sum
                        mtype = "gauge" if f4 == 5 else "sum"
                        temporality = monotonic = None
                        points = []
                        for f5, _, v5 in iter_fields(v4):
                            if f5 == 1:
                                points.append(_number_dp(v5))
                            elif f5 == 2 and mtype == "sum":
                                temporality = _i32(v5)
                            elif f5 == 3 and mtype == "sum":
                                monotonic = bool(v5)
                        dps.extend(
                            {**p, "mt_type": mtype, "mt_temporality": temporality,
                             "mt_monotonic": monotonic}
                            for p in points
                        )
                rows.extend({**p, "mt_name": name, "mt_unit": unit} for p in dps)
    return rows


def parse_otlp_pb_metrics(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per number datapoint (gauge/sum) in each OTLP-protobuf
    MetricsData payload."""
    return explode_decode(df, source, _NUMDP_FIELDS, decode_metrics_data)


# --- trace/metric encoders (fixtures/tests) -----------------------------------


def enc_span(
    trace_id: bytes, span_id: bytes, name: str, start_ns: int, end_ns: int,
    kind: int = 1, parent_span_id: bytes | None = None,
    attrs: dict | None = None, status_code: int | None = None,
) -> bytes:
    out = enc_ld(1, trace_id) + enc_ld(2, span_id)
    if parent_span_id:
        out += enc_ld(4, parent_span_id)
    out += enc_ld(5, name.encode("utf-8")) + enc_tag(6, 0) + enc_varint(kind)
    out += enc_tag(7, 1) + struct.pack("<Q", start_ns) + enc_tag(8, 1) + struct.pack("<Q", end_ns)
    for k, v in (attrs or {}).items():
        out += enc_ld(9, enc_kv(k, v))
    if status_code is not None:
        out += enc_ld(15, enc_tag(3, 0) + enc_varint(status_code))
    return out


def enc_traces_data(spans: list[bytes], resource_attrs: dict | None = None) -> bytes:
    resource = b"".join(enc_ld(1, enc_kv(k, v)) for k, v in (resource_attrs or {}).items())
    scope_spans = b"".join(enc_ld(2, s) for s in spans)
    return enc_ld(1, enc_ld(1, resource) + enc_ld(2, scope_spans))


def enc_number_dp(ts_ns: int, value, attrs: dict | None = None) -> bytes:
    out = enc_tag(3, 1) + struct.pack("<Q", ts_ns)
    if isinstance(value, int):
        out += enc_tag(6, 1) + struct.pack("<q", value)
    else:
        out += enc_tag(4, 1) + struct.pack("<d", value)
    for k, v in (attrs or {}).items():
        out += enc_ld(7, enc_kv(k, v))
    return out


def enc_metric(
    name: str, unit: str, dps: list[bytes], mtype: str = "gauge",
    temporality: int | None = None, monotonic: bool | None = None,
) -> bytes:
    inner = b"".join(enc_ld(1, d) for d in dps)
    if mtype == "sum":
        if temporality is not None:
            inner += enc_tag(2, 0) + enc_varint(temporality)
        if monotonic is not None:
            inner += enc_tag(3, 0) + enc_varint(1 if monotonic else 0)
    out = enc_ld(1, name.encode("utf-8")) + enc_ld(3, unit.encode("utf-8"))
    return out + enc_ld(5 if mtype == "gauge" else 7, inner)


def enc_metrics_data(metrics: list[bytes]) -> bytes:
    scope_metrics = b"".join(enc_ld(2, m) for m in metrics)
    return enc_ld(1, enc_ld(2, scope_metrics))


def synthesize_otlp_pb_spans(df: DataFrame) -> DataFrame:
    """Deterministic per-row TracesData payloads from (event_id, user_id,
    event_type): one span per payload, parent linkage on two of three."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series, types: pd.Series) -> pd.Series:
        out = []
        for i, u, t in zip(ids, users, types):
            i, u = int(i), int(u)
            ns = (1_700_000_000 + i % 86400) * 1_000_000_000
            span = enc_span(
                trace_id=u.to_bytes(16, "big"),
                span_id=i.to_bytes(8, "big"),
                name=t,
                start_ns=ns,
                end_ns=ns + (i % 100) * 1_000_000,
                kind=2 + i % 3,
                parent_span_id=(i - 1).to_bytes(8, "big") if i % 3 != 0 and i > 0 else None,
                attrs={"etype": t},
                status_code=i % 3,
            )
            out.append(enc_traces_data([span], {"service.name": f"svc-{u % 4}"}))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "user_id", "event_type"))


def synthesize_otlp_pb_metrics(df: DataFrame) -> DataFrame:
    """Deterministic per-row MetricsData payloads from (event_id,
    event_type, value): gauge as_double on even ids, monotonic cumulative
    sum as_int on odd ids."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, types: pd.Series, values: pd.Series) -> pd.Series:
        out = []
        for i, t, v in zip(ids, types, values):
            i = int(i)
            ns = (1_700_000_000 + i % 86400) * 1_000_000_000
            if i % 2 == 0:
                dp = enc_number_dp(ns, float(v), {"etype": t})
                m = enc_metric(f"{t}.value", "ms", [dp], "gauge")
            else:
                dp = enc_number_dp(ns, int(v * 100 // 1), {"etype": t})
                m = enc_metric(f"{t}.count", "1", [dp], "sum", temporality=2, monotonic=True)
            out.append(enc_metrics_data([m]))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "event_type", "value"))


# --- histogram datapoints (metrics.proto Histogram) ---------------------------
# Metric{ histogram = 9 }; Histogram{ data_points = 1,
# aggregation_temporality = 2 }; HistogramDataPoint{ start_time_unix_nano=2,
# time_unix_nano=3 (fixed64), count=4 (fixed64), sum=5 (double),
# bucket_counts=6 (repeated fixed64, PACKED), explicit_bounds=7 (repeated
# double, PACKED), attributes=9 }

_HIST_FIELDS = [
    T.StructField("hh_name", T.StringType()),
    T.StructField("hh_temporality", T.IntegerType()),
    T.StructField("hh_ts_us", T.LongType()),
    T.StructField("hh_count", T.LongType()),
    T.StructField("hh_sum", T.DoubleType()),
    T.StructField("hh_bucket_counts_csv", T.StringType()),
    T.StructField("hh_bounds_csv", T.StringType()),
    T.StructField("hh_attrs_csv", T.StringType()),
]


def _packed(buf: bytes, fmt: str) -> list:
    size = struct.calcsize(fmt)
    if len(buf) % size:
        raise ValueError("ragged packed field")
    return [struct.unpack_from(fmt, buf, i)[0] for i in range(0, len(buf), size)]


def _hist_dp(buf: bytes) -> dict:
    dp = {
        "hh_ts_us": None, "hh_count": None, "hh_sum": None,
        "hh_bucket_counts_csv": None, "hh_bounds_csv": None, "hh_attrs_csv": None,
    }
    attrs: list[tuple[str, object]] = []
    for f, _, v in iter_fields(buf):
        if f == 3:
            dp["hh_ts_us"] = struct.unpack("<Q", v)[0] // 1000
        elif f == 4:
            dp["hh_count"] = struct.unpack("<Q", v)[0]
        elif f == 5:
            dp["hh_sum"] = struct.unpack("<d", v)[0]
        elif f == 6:
            dp["hh_bucket_counts_csv"] = ",".join(str(x) for x in _packed(v, "<Q"))
        elif f == 7:
            dp["hh_bounds_csv"] = ",".join(repr(x) for x in _packed(v, "<d"))
        elif f == 9:
            attrs.append(_key_value(v))
    dp["hh_attrs_csv"] = _attrs_csv(attrs)
    return dp


def decode_histograms_data(payload: bytes) -> list[dict]:
    rows = []
    for f1, _, rm in iter_fields(payload):
        if f1 != 1:
            continue
        for f2, _, sm in iter_fields(rm):
            if f2 != 2:
                continue
            for f3, _, metric in iter_fields(sm):
                if f3 != 2:
                    continue
                name = None
                dps = []
                for f4, _, v4 in iter_fields(metric):
                    if f4 == 1:
                        name = v4.decode("utf-8", errors="replace")
                    elif f4 == 9:  # histogram
                        temporality = None
                        points = []
                        for f5, _, v5 in iter_fields(v4):
                            if f5 == 1:
                                points.append(_hist_dp(v5))
                            elif f5 == 2:
                                temporality = _i32(v5)
                        dps.extend({**p, "hh_temporality": temporality} for p in points)
                rows.extend({**p, "hh_name": name} for p in dps)
    return rows


def parse_otlp_pb_histograms(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per histogram datapoint in each OTLP-protobuf MetricsData
    payload — bucket counts and explicit bounds arrive as the proto PACKED
    wire encodings and surface as the repo's canonical CSV columns, so the
    output plugs straight into the histogram merge/rebucket operators."""
    return explode_decode(df, source, _HIST_FIELDS, decode_histograms_data)


def enc_hist_dp(ts_ns: int, count: int, total: float, bucket_counts: list[int],
                bounds: list[float], attrs: dict | None = None) -> bytes:
    out = enc_tag(3, 1) + struct.pack("<Q", ts_ns)
    out += enc_tag(4, 1) + struct.pack("<Q", count)
    out += enc_tag(5, 1) + struct.pack("<d", total)
    out += enc_ld(6, b"".join(struct.pack("<Q", c) for c in bucket_counts))
    out += enc_ld(7, b"".join(struct.pack("<d", b) for b in bounds))
    for k, v in (attrs or {}).items():
        out += enc_ld(9, enc_kv(k, v))
    return out


def enc_histogram_metric(name: str, dps: list[bytes], temporality: int = 2) -> bytes:
    inner = b"".join(enc_ld(1, d) for d in dps) + enc_tag(2, 0) + enc_varint(temporality)
    return enc_ld(1, name.encode("utf-8")) + enc_ld(9, inner)


def synthesize_otlp_pb_histograms(df: DataFrame) -> DataFrame:
    """Deterministic histogram payloads from (event_id, event_type, value):
    a 3-bucket cumulative histogram per event with the standard [1, 5]
    bounds used by the events-table histogram fixtures."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, types: pd.Series, values: pd.Series) -> pd.Series:
        out = []
        for i, t, v in zip(ids, types, values):
            i = int(i)
            ns = (1_700_000_000 + i % 86400) * 1_000_000_000
            counts = [i % 4, (i + 1) % 3, (i + 2) % 5]
            dp = enc_hist_dp(ns, sum(counts), float(v), counts, [1.0, 5.0], {"etype": t})
            out.append(enc_metrics_data([enc_histogram_metric(f"{t}.latency", [dp])]))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "event_type", "value"))


# --- exponential histogram datapoints (metrics.proto ExponentialHistogram) ----
# Metric{ exponential_histogram = 10 }; ExponentialHistogram{ data_points=1,
# aggregation_temporality=2 }; ExponentialHistogramDataPoint{
# time_unix_nano=3 (fixed64), count=4 (fixed64), sum=5 (double),
# scale=6 (SINT32 -> zigzag varint), zero_count=7 (fixed64),
# positive=8, negative=9: Buckets{ offset=1 (sint32 zigzag),
# bucket_counts=2 (repeated uint64, PACKED varints) }, attributes=1 }

_EXPH_FIELDS = [
    T.StructField("eh_name", T.StringType()),
    T.StructField("eh_temporality", T.IntegerType()),
    T.StructField("eh_ts_us", T.LongType()),
    T.StructField("eh_count", T.LongType()),
    T.StructField("eh_sum", T.DoubleType()),
    T.StructField("eh_scale", T.IntegerType()),
    T.StructField("eh_zero_count", T.LongType()),
    T.StructField("eh_pos_offset", T.IntegerType()),
    T.StructField("eh_pos_counts_csv", T.StringType()),
    T.StructField("eh_neg_offset", T.IntegerType()),
    T.StructField("eh_neg_counts_csv", T.StringType()),
]


def _unzigzag32(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _exph_buckets(buf: bytes) -> tuple[int | None, str | None]:
    offset, counts = None, None
    for f, w, v in iter_fields(buf):
        if f == 1:
            offset = _unzigzag32(v)
        elif f == 2:
            # packed (wire 2) is canonical; tolerate unpacked varints too
            if w == 2:
                counts = ",".join(str(x) for x in packed_varints(v))
            else:
                counts = (counts + "," if counts else "") + str(v)
    return offset, counts


def decode_exp_histograms_data(payload: bytes) -> list[dict]:
    rows = []
    for f1, _, rm in iter_fields(payload):
        if f1 != 1:
            continue
        for f2, _, sm in iter_fields(rm):
            if f2 != 2:
                continue
            for f3, _, metric in iter_fields(sm):
                if f3 != 2:
                    continue
                name = None
                dps = []
                for f4, _, v4 in iter_fields(metric):
                    if f4 == 1:
                        name = v4.decode("utf-8", errors="replace")
                    elif f4 == 10:
                        temporality = None
                        points = []
                        for f5, _, v5 in iter_fields(v4):
                            if f5 == 1:
                                dp = {
                                    "eh_ts_us": None, "eh_count": None, "eh_sum": None,
                                    "eh_scale": None, "eh_zero_count": None,
                                    "eh_pos_offset": None, "eh_pos_counts_csv": None,
                                    "eh_neg_offset": None, "eh_neg_counts_csv": None,
                                }
                                for f6, _, v6 in iter_fields(v5):
                                    if f6 == 3:
                                        dp["eh_ts_us"] = struct.unpack("<Q", v6)[0] // 1000
                                    elif f6 == 4:
                                        dp["eh_count"] = struct.unpack("<Q", v6)[0]
                                    elif f6 == 5:
                                        dp["eh_sum"] = struct.unpack("<d", v6)[0]
                                    elif f6 == 6:
                                        dp["eh_scale"] = _unzigzag32(v6)
                                    elif f6 == 7:
                                        dp["eh_zero_count"] = struct.unpack("<Q", v6)[0]
                                    elif f6 == 8:
                                        dp["eh_pos_offset"], dp["eh_pos_counts_csv"] = (
                                            _exph_buckets(v6)
                                        )
                                    elif f6 == 9:
                                        dp["eh_neg_offset"], dp["eh_neg_counts_csv"] = (
                                            _exph_buckets(v6)
                                        )
                                points.append(dp)
                            elif f5 == 2:
                                temporality = _i32(v5)
                        dps.extend({**p, "eh_temporality": temporality} for p in points)
                rows.extend({**p, "eh_name": name} for p in dps)
    return rows


def parse_otlp_pb_exp_histograms(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per exponential-histogram datapoint — zigzag sint32 scale
    and bucket offsets, packed-varint bucket counts — emitting the same
    (scale, offset, counts) shape the exponential-histogram operators
    (downscale/merge/delta) consume."""
    return explode_decode(df, source, _EXPH_FIELDS, decode_exp_histograms_data)


def _zigzag32(v: int) -> bytes:
    return enc_varint(((v << 1) ^ (v >> 31)) & 0xFFFFFFFF)


def enc_exp_hist_dp(ts_ns: int, count: int, total: float, scale: int, zero_count: int,
                    pos_offset: int, pos_counts: list[int],
                    neg_offset: int | None = None, neg_counts: list[int] | None = None) -> bytes:
    out = enc_tag(3, 1) + struct.pack("<Q", ts_ns)
    out += enc_tag(4, 1) + struct.pack("<Q", count)
    out += enc_tag(5, 1) + struct.pack("<d", total)
    out += enc_tag(6, 0) + _zigzag32(scale)
    out += enc_tag(7, 1) + struct.pack("<Q", zero_count)
    pos = enc_tag(1, 0) + _zigzag32(pos_offset) + enc_ld(2, b"".join(enc_varint(c) for c in pos_counts))
    out += enc_ld(8, pos)
    if neg_counts is not None:
        neg = enc_tag(1, 0) + _zigzag32(neg_offset or 0) + enc_ld(
            2, b"".join(enc_varint(c) for c in neg_counts)
        )
        out += enc_ld(9, neg)
    return out


def enc_exp_histogram_metric(name: str, dps: list[bytes], temporality: int = 2) -> bytes:
    inner = b"".join(enc_ld(1, d) for d in dps) + enc_tag(2, 0) + enc_varint(temporality)
    return enc_ld(1, name.encode("utf-8")) + enc_ld(10, inner)


def synthesize_otlp_pb_exp_histograms(df: DataFrame) -> DataFrame:
    """Deterministic exponential-histogram payloads from (event_id,
    event_type, value): negative scales on every 3rd row, negative bucket
    section on every 4th."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, types: pd.Series, values: pd.Series) -> pd.Series:
        out = []
        for i, t, v in zip(ids, types, values):
            i = int(i)
            ns = (1_700_000_000 + i % 86400) * 1_000_000_000
            counts = [i % 3 + 1, (i + 1) % 4, (i + 2) % 5]
            neg = ([i % 2, 1], -2) if i % 4 == 0 else (None, None)
            dp = enc_exp_hist_dp(
                ns, sum(counts) + (sum(neg[0]) if neg[0] else 0), float(v),
                scale=-(i % 3) if i % 3 else 2, zero_count=i % 7,
                pos_offset=(i % 11) - 5, pos_counts=counts,
                neg_offset=neg[1], neg_counts=neg[0],
            )
            out.append(enc_metrics_data([enc_exp_histogram_metric(f"{t}.exp", [dp])]))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "event_type", "value"))


def synthesize_otlp_pb_turns(df: DataFrame) -> DataFrame:
    """Encode each transcript turn as one OTLP-protobuf LogsData payload
    (body = the turn text, role/tool attributes, event time from ts) —
    the bench fixture generator for wire-decode throughput runs."""

    @F.pandas_udf(T.BinaryType())
    def gen(convs: pd.Series, idxs: pd.Series, roles: pd.Series,
            texts: pd.Series, tools: pd.Series, ts_us: pd.Series) -> pd.Series:
        out = []
        for c, i, r, x, tl, t in zip(convs, idxs, roles, texts, tools, ts_us):
            attrs = {"conv_id": str(c), "turn_idx": int(i) if i is not None else -1,
                     "role": str(r)}
            if tl is not None:
                attrs["tool"] = str(tl)
            rec = enc_log_record(
                (int(t) if t is not None else 0) * 1000,
                x if x is not None else "", 9, "INFO", attrs,
            )
            out.append(enc_logs_data([rec], {"service.name": "transcripts"}, "bench"))
        return pd.Series(out)

    return df.select(
        gen(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        ).alias("payload")
    )


# --- Prometheus remote-write (prometheusremotewriteexporter's wire format) ----
# prompb WriteRequest{ timeseries = 1 }; TimeSeries{ labels = 1, samples = 2 }
# Label{ name = 1, value = 2 }; Sample{ value = 1 (double), timestamp = 2
# (varint ms, two's complement for negatives) }

_RW_FIELDS = [
    T.StructField("rw_name", T.StringType()),
    T.StructField("rw_labels_csv", T.StringType()),
    T.StructField("rw_ts_ms", T.LongType()),
    T.StructField("rw_value", T.DoubleType()),
]


def decode_remote_write(payload: bytes) -> list[dict]:
    rows = []
    for f1, _, ts_msg in iter_fields(payload):
        if f1 != 1:
            continue
        labels: list[tuple[str, str]] = []
        samples = []
        for f2, _, v2 in iter_fields(as_bytes(ts_msg)):
            if f2 == 1:
                name = value = ""
                for f3, _, v3 in iter_fields(as_bytes(v2)):
                    if f3 == 1:
                        name = as_bytes(v3).decode("utf-8", errors="replace")
                    elif f3 == 2:
                        value = as_bytes(v3).decode("utf-8", errors="replace")
                labels.append((name, value))
            elif f2 == 2:
                val = ts = None
                for f3, _, v3 in iter_fields(as_bytes(v2)):
                    if f3 == 1:
                        val = struct.unpack("<d", as_bytes(v3))[0]
                    elif f3 == 2:
                        ts = as_int64(int(v3))
                samples.append((ts, val))
        mname = next((v for n, v in labels if n == "__name__"), None)
        rest = sorted((n, v) for n, v in labels if n != "__name__")
        labels_csv = ",".join(f"{n}={v}" for n, v in rest) or None
        rows.extend(
            {"rw_name": mname, "rw_labels_csv": labels_csv, "rw_ts_ms": ts, "rw_value": val}
            for ts, val in samples
        )
    return rows


def parse_remote_write(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per sample in each prompb WriteRequest — `__name__` split
    from the label set (Prometheus convention), remaining labels as the
    canonical sorted CSV."""
    return explode_decode(df, source, _RW_FIELDS, decode_remote_write)


def enc_remote_write(series: list[tuple[dict, list[tuple[int, float]]]]) -> bytes:
    """series = [(labels dict incl __name__, [(ts_ms, value), ...]), ...]"""
    out = b""
    for labels, samples in series:
        ts_msg = b""
        for n, v in labels.items():
            ts_msg += enc_ld(1, enc_ld(1, n.encode("utf-8")) + enc_ld(2, str(v).encode("utf-8")))
        for ts, val in samples:
            ts_msg += enc_ld(2, enc_tag(1, 1) + struct.pack("<d", val) + enc_tag(2, 0) + enc_varint(ts))
        out += enc_ld(1, ts_msg)
    return out


def synthesize_remote_write(df: DataFrame) -> DataFrame:
    """Deterministic WriteRequests from (event_id, event_type, value): one
    series with two samples per event."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, types: pd.Series, values: pd.Series) -> pd.Series:
        out = []
        for i, t, v in zip(ids, types, values):
            i = int(i)
            ms = (1_700_000_000 + i % 86400) * 1000
            labels = {"__name__": f"{t}_total", "job": f"j{i % 3}", "instance": f"i{i % 5}"}
            out.append(enc_remote_write([(labels, [(ms, float(v)), (ms + 15000, float(v) + 1.0)])]))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "event_type", "value"))


# --- SignalFx v2 datapoint protobuf -------------------------------------------

_SFX_TYPES = {0: "GAUGE", 1: "COUNTER", 2: "ENUM", 3: "CUMULATIVE_COUNTER"}

_SFX_FIELDS = [
    T.StructField("sfx_metric", T.StringType()),
    T.StructField("sfx_type", T.StringType()),
    T.StructField("sfx_source", T.StringType()),
    T.StructField("sfx_ts_ms", T.LongType()),
    T.StructField("sfx_value", T.DoubleType()),
    T.StructField("sfx_is_int", T.BooleanType()),
    T.StructField("sfx_dims_csv", T.StringType()),
]


def decode_signalfx(payload: bytes) -> list[dict]:
    """sfxpb DataPointUploadMessage (the body receiver/signalfxreceiver/
    receiver.go:249 unmarshals on POST /v2/datapoint; message layout from
    the public github.com/signalfx/com_signalfx_metrics_protobuf model:
    datapoints=1; DataPoint source=1 metric=2 timestamp=3(ms) value=4
    metricType=5 dimensions=6; Datum strValue=1 doubleValue=2 intValue=3;
    Dimension key=1 value=2). One output row per datapoint, dimensions as
    the canonical sorted k=v CSV."""
    rows = []
    for f1, _, dp_msg in iter_fields(payload):
        if f1 != 1:
            continue
        source = metric = None
        ts_ms = 0
        mtype = 0
        val = None
        is_int = False
        dims: list[tuple[str, str]] = []
        for f2, _, v2 in iter_fields(as_bytes(dp_msg)):
            if f2 == 1:
                source = as_bytes(v2).decode("utf-8", errors="replace")
            elif f2 == 2:
                metric = as_bytes(v2).decode("utf-8", errors="replace")
            elif f2 == 3:
                ts_ms = as_int64(int(v2))
            elif f2 == 4:
                for f3, _, v3 in iter_fields(as_bytes(v2)):
                    if f3 == 2:
                        val, is_int = struct.unpack("<d", as_bytes(v3))[0], False
                    elif f3 == 3:
                        val, is_int = float(as_int64(int(v3))), True
            elif f2 == 5:
                mtype = int(v2)
            elif f2 == 6:
                k = v = ""
                for f3, _, v3 in iter_fields(as_bytes(v2)):
                    if f3 == 1:
                        k = as_bytes(v3).decode("utf-8", errors="replace")
                    elif f3 == 2:
                        v = as_bytes(v3).decode("utf-8", errors="replace")
                dims.append((k, v))
        rows.append(
            {
                "sfx_metric": metric,
                "sfx_type": _SFX_TYPES.get(mtype, str(mtype)),
                "sfx_source": source,
                "sfx_ts_ms": ts_ms,
                "sfx_value": val,
                "sfx_is_int": is_int,
                "sfx_dims_csv": ",".join(f"{k}={v}" for k, v in sorted(dims)) or None,
            }
        )
    return rows


def parse_signalfx(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per SignalFx datapoint in each DataPointUploadMessage."""
    return explode_decode(df, source, _SFX_FIELDS, decode_signalfx)


def enc_sfx_datapoint(
    metric: str,
    value,
    ts_ms: int,
    metric_type: int = 0,
    dims: dict | None = None,
    source: str | None = None,
) -> bytes:
    dp = b""
    if source is not None:
        dp += enc_ld(1, source.encode("utf-8"))
    dp += enc_ld(2, metric.encode("utf-8"))
    dp += enc_tag(3, 0) + enc_varint(ts_ms & ((1 << 64) - 1))
    if isinstance(value, int):
        datum = enc_tag(3, 0) + enc_varint(value & ((1 << 64) - 1))
    else:
        datum = enc_tag(2, 1) + struct.pack("<d", float(value))
    dp += enc_ld(4, datum)
    if metric_type:
        dp += enc_tag(5, 0) + enc_varint(metric_type)
    for k, v in (dims or {}).items():
        dp += enc_ld(6, enc_ld(1, k.encode("utf-8")) + enc_ld(2, str(v).encode("utf-8")))
    return dp


def enc_sfx_upload(datapoints: list[bytes]) -> bytes:
    return b"".join(enc_ld(1, dp) for dp in datapoints)


def synthesize_signalfx(df: DataFrame) -> DataFrame:
    """Deterministic DataPointUploadMessages from (event_id, event_type,
    user_id, value): one double gauge + one int cumulative counter per
    event, shared dimension set."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, types: pd.Series, users: pd.Series, values: pd.Series) -> pd.Series:
        out = []
        for i, t, u, v in zip(ids, types, users, values):
            i, u = int(i), int(u)
            ms = (1_700_000_000 + i % 86400) * 1000
            dims = {"host": f"h{u % 5}", "dc": f"dc{u % 3}"}
            out.append(
                enc_sfx_upload(
                    [
                        enc_sfx_datapoint(f"{t}.gauge", float(v), ms, 0, dims, source=f"s{u % 4}"),
                        enc_sfx_datapoint(f"{t}.calls", i % 1000, ms, 3, dims),
                    ]
                )
            )
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "event_type", "user_id", "value"))


# --- SkyWalking v3 segment protobuf -------------------------------------------

_SW_SPAN_TYPES = {0: "Entry", 1: "Exit", 2: "Local"}
_SW_LAYERS = {0: "Unknown", 1: "Database", 2: "RPCFramework", 3: "Http", 4: "MQ", 5: "Cache", 6: "FAAS"}

_SW_FIELDS = [
    T.StructField("sw_trace_id", T.StringType()),
    T.StructField("sw_segment_id", T.StringType()),
    T.StructField("sw_service", T.StringType()),
    T.StructField("sw_instance", T.StringType()),
    T.StructField("sw_span_id", T.IntegerType()),
    T.StructField("sw_parent_span_id", T.IntegerType()),
    T.StructField("sw_op", T.StringType()),
    T.StructField("sw_peer", T.StringType()),
    T.StructField("sw_type", T.StringType()),
    T.StructField("sw_layer", T.StringType()),
    T.StructField("sw_component_id", T.IntegerType()),
    T.StructField("sw_is_error", T.BooleanType()),
    T.StructField("sw_start_ms", T.LongType()),
    T.StructField("sw_end_ms", T.LongType()),
    T.StructField("sw_tags_csv", T.StringType()),
]


def decode_skywalking_segment(payload: bytes) -> list[dict]:
    """SkyWalking v3 SegmentObject (the message pkg/translator/skywalking/
    skywalkingproto_to_traces.go translates; layout from the public
    skywalking-data-collect-protocol language-agent/Tracing.proto:
    traceId=1 traceSegmentId=2 spans=3 service=4 serviceInstance=5;
    SpanObject spanId=1 parentSpanId=2 startTime=3(ms) endTime=4 refs=5
    operationName=6 peer=7 spanType=8 spanLayer=9 componentId=10
    isError=11 tags=12 KeyStringValuePair{key=1,value=2}). One row per
    span; parentSpanId -1 (the root marker) arrives zigzag-free as the
    two's-complement varint."""
    trace_id = seg_id = service = instance = None
    spans = []
    for f1, _, v1 in iter_fields(payload):
        if f1 == 1:
            trace_id = as_bytes(v1).decode("utf-8", errors="replace")
        elif f1 == 2:
            seg_id = as_bytes(v1).decode("utf-8", errors="replace")
        elif f1 == 4:
            service = as_bytes(v1).decode("utf-8", errors="replace")
        elif f1 == 5:
            instance = as_bytes(v1).decode("utf-8", errors="replace")
        elif f1 == 3:
            sp = {
                "sw_span_id": 0, "sw_parent_span_id": 0, "sw_op": None,
                "sw_peer": None, "sw_type": "Entry", "sw_layer": "Unknown",
                "sw_component_id": 0, "sw_is_error": False,
                "sw_start_ms": 0, "sw_end_ms": 0,
            }
            tags: list[tuple[str, str]] = []
            for f2, _, v2 in iter_fields(as_bytes(v1)):
                if f2 == 1:
                    sp["sw_span_id"] = _i32(int(v2))
                elif f2 == 2:
                    sp["sw_parent_span_id"] = _i32(int(v2))
                elif f2 == 3:
                    sp["sw_start_ms"] = as_int64(int(v2))
                elif f2 == 4:
                    sp["sw_end_ms"] = as_int64(int(v2))
                elif f2 == 6:
                    sp["sw_op"] = as_bytes(v2).decode("utf-8", errors="replace")
                elif f2 == 7:
                    sp["sw_peer"] = as_bytes(v2).decode("utf-8", errors="replace")
                elif f2 == 8:
                    sp["sw_type"] = _SW_SPAN_TYPES.get(int(v2), str(int(v2)))
                elif f2 == 9:
                    sp["sw_layer"] = _SW_LAYERS.get(int(v2), str(int(v2)))
                elif f2 == 10:
                    sp["sw_component_id"] = _i32(int(v2))
                elif f2 == 11:
                    sp["sw_is_error"] = bool(int(v2))
                elif f2 == 12:
                    k = v = ""
                    for f3, _, v3 in iter_fields(as_bytes(v2)):
                        if f3 == 1:
                            k = as_bytes(v3).decode("utf-8", errors="replace")
                        elif f3 == 2:
                            v = as_bytes(v3).decode("utf-8", errors="replace")
                    tags.append((k, v))
            sp["sw_tags_csv"] = ",".join(f"{k}={v}" for k, v in sorted(tags)) or None
            spans.append(sp)
    return [
        {
            "sw_trace_id": trace_id, "sw_segment_id": seg_id,
            "sw_service": service, "sw_instance": instance, **sp,
        }
        for sp in spans
    ]


def parse_skywalking(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per span in each SkyWalking SegmentObject payload."""
    return explode_decode(df, source, _SW_FIELDS, decode_skywalking_segment)


def enc_sw_span(
    span_id: int,
    parent_id: int,
    start_ms: int,
    end_ms: int,
    op: str,
    peer: str | None = None,
    span_type: int = 0,
    layer: int = 0,
    component_id: int = 0,
    is_error: bool = False,
    tags: dict | None = None,
) -> bytes:
    sp = enc_tag(1, 0) + enc_varint(span_id & ((1 << 64) - 1))
    sp += enc_tag(2, 0) + enc_varint(parent_id & ((1 << 64) - 1))
    sp += enc_tag(3, 0) + enc_varint(start_ms & ((1 << 64) - 1))
    sp += enc_tag(4, 0) + enc_varint(end_ms & ((1 << 64) - 1))
    sp += enc_ld(6, op.encode("utf-8"))
    if peer is not None:
        sp += enc_ld(7, peer.encode("utf-8"))
    if span_type:
        sp += enc_tag(8, 0) + enc_varint(span_type)
    if layer:
        sp += enc_tag(9, 0) + enc_varint(layer)
    if component_id:
        sp += enc_tag(10, 0) + enc_varint(component_id)
    if is_error:
        sp += enc_tag(11, 0) + enc_varint(1)
    for k, v in (tags or {}).items():
        sp += enc_ld(12, enc_ld(1, k.encode("utf-8")) + enc_ld(2, str(v).encode("utf-8")))
    return sp


def enc_sw_segment(
    trace_id: str, segment_id: str, service: str, instance: str, spans: list[bytes]
) -> bytes:
    out = enc_ld(1, trace_id.encode("utf-8")) + enc_ld(2, segment_id.encode("utf-8"))
    for sp in spans:
        out += enc_ld(3, sp)
    out += enc_ld(4, service.encode("utf-8")) + enc_ld(5, instance.encode("utf-8"))
    return out


def synthesize_skywalking(df: DataFrame) -> DataFrame:
    """Deterministic SegmentObjects from (event_id, event_type, user_id):
    an Entry root (parent -1) plus an Exit child per event."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, types: pd.Series, users: pd.Series) -> pd.Series:
        out = []
        for i, t, u in zip(ids, types, users):
            i, u = int(i), int(u)
            ms = (1_700_000_000 + i % 86400) * 1000
            root = enc_sw_span(0, -1, ms, ms + 120, f"/{t}", span_type=0, layer=3,
                               component_id=49, is_error=i % 10 == 0,
                               tags={"http.method": "GET" if i % 2 == 0 else "POST"})
            child = enc_sw_span(1, 0, ms + 10, ms + 90, "SELECT users", peer=f"db{u % 3}:3306",
                                span_type=1, layer=1, component_id=5)
            out.append(
                enc_sw_segment(f"{u:032x}", f"{i:032x}", f"svc-{u % 4}", f"inst-{u % 7}", [root, child])
            )
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "event_type", "user_id"))
