"""Jaeger protobuf span decode — the
``extension/encoding/jaegerencodingextension`` analogue (`jaeger.go:18-25`:
each payload is ONE jaeger-idl `model.Span`, converted to a trace row).
Field numbers follow the public jaeger-idl ``model.proto``:

  Span{ trace_id=1 (16 bytes), span_id=2 (8 bytes), operation_name=3,
        references=4 (SpanRef{trace_id=1, span_id=2, ref_type=3: 0
        CHILD_OF / 1 FOLLOWS_FROM}), flags=5 (fixed32),
        start_time=6 (google.protobuf.Timestamp{seconds=1, nanos=2}),
        duration=7 (google.protobuf.Duration{seconds=1, nanos=2}),
        tags=8, process=10 (Process{service_name=1, tags=2}) }
  KeyValue{ key=1, v_type=2 (0 str / 1 bool / 2 int64 / 3 float64 /
        4 binary), v_str=3, v_bool=4, v_int64=5, v_float64=6 (fixed64),
        v_binary=7 }

Reuses the proto-wire reader and decode kernel from ``_wire`` (same varint / fixed64 /
length-delimited grammar); the Timestamp/Duration submessages are the one
new wire shape (varint seconds+nanos)."""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._wire import as_bytes, as_int64, enc_ld, enc_tag, enc_varint, explode_decode, iter_fields


def _ts_us(buf: bytes) -> int:
    """google.protobuf.Timestamp/Duration: seconds=1, nanos=2 (varints,
    negative values arrive as 64-bit two's complement)."""
    sec = ns = 0
    for f, _, v in iter_fields(buf):
        if f == 1:
            sec = as_int64(v)
        elif f == 2:
            ns = as_int64(v)
    return sec * 1_000_000 + ns // 1000


def _kv(buf: bytes) -> tuple[str, str]:
    key, vtype = "", 0
    vals: dict[int, object] = {}
    for f, _, v in iter_fields(buf):
        if f == 1:
            key = as_bytes(v).decode("utf-8", errors="replace")
        elif f == 2:
            vtype = int(v)
        elif f in (3, 6, 7):
            vals[f] = as_bytes(v)  # length-delimited / fixed64 slots
        elif f in (4, 5):
            vals[f] = v
    if vtype == 0:
        out = vals.get(3, b"").decode("utf-8", errors="replace") if vals.get(3) is not None else ""
    elif vtype == 1:
        out = "true" if vals.get(4) else "false"
    elif vtype == 2:
        out = str(as_int64(vals.get(5, 0)))
    elif vtype == 3:
        out = repr(struct.unpack("<d", vals.get(6, b"\0" * 8))[0])
    else:
        out = bytes(vals.get(7, b"")).hex()
    return key, out


def _tags_csv(kvs: list[tuple[str, str]]) -> str | None:
    return ",".join(f"{k}={v}" for k, v in sorted(kvs)) if kvs else None


_JG_FIELDS = [
    T.StructField("jg_trace_id", T.StringType()),
    T.StructField("jg_span_id", T.StringType()),
    T.StructField("jg_parent_span_id", T.StringType()),
    T.StructField("jg_op", T.StringType()),
    T.StructField("jg_flags", T.LongType()),
    T.StructField("jg_start_us", T.LongType()),
    T.StructField("jg_duration_us", T.LongType()),
    T.StructField("jg_tags_csv", T.StringType()),
    T.StructField("jg_service", T.StringType()),
    T.StructField("jg_process_tags_csv", T.StringType()),
]


def decode_jaeger_span(payload: bytes) -> list[dict]:
    row = dict.fromkeys(f.name for f in _JG_FIELDS)
    tags: list[tuple[str, str]] = []
    ptags: list[tuple[str, str]] = []
    seen = False
    for f, w, v in iter_fields(payload):
        seen = True
        if f == 1 and w == 2:
            row["jg_trace_id"] = bytes(v).hex()
        elif f == 2 and w == 2:
            row["jg_span_id"] = bytes(v).hex()
        elif f == 3 and w == 2:
            row["jg_op"] = v.decode("utf-8", errors="replace")
        elif f == 4 and w == 2:
            ref_type, ref_span = 0, None
            for rf, rw, rv in iter_fields(v):
                if rf == 2 and rw == 2:
                    ref_span = bytes(rv).hex()
                elif rf == 3:
                    ref_type = int(rv)
            # translator semantics: the CHILD_OF reference becomes the parent
            if ref_type == 0 and ref_span and row["jg_parent_span_id"] is None:
                row["jg_parent_span_id"] = ref_span
        elif f == 5 and w == 5:
            row["jg_flags"] = struct.unpack("<I", v)[0]
        elif f == 6 and w == 2:
            row["jg_start_us"] = _ts_us(v)
        elif f == 7 and w == 2:
            row["jg_duration_us"] = _ts_us(v)
        elif f == 8 and w == 2:
            tags.append(_kv(v))
        elif f == 10 and w == 2:
            for pf, _, pv in iter_fields(v):
                if pf == 1:
                    row["jg_service"] = pv.decode("utf-8", errors="replace")
                elif pf == 2:
                    ptags.append(_kv(pv))
    if not seen or row["jg_trace_id"] is None:
        raise ValueError("not a jaeger span")
    row["jg_tags_csv"] = _tags_csv(tags)
    row["jg_process_tags_csv"] = _tags_csv(ptags)
    return [row]


def parse_jaeger_pb_spans(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per payload (each payload is one jaeger-proto Span, the
    encoding extension's contract). Malformed payloads drop."""
    return explode_decode(df, source, _JG_FIELDS, decode_jaeger_span)


# --- encode side (fixtures/tests) --------------------------------------------


def _enc_ts(sec: int, ns: int) -> bytes:
    out = b""
    if sec:
        out += enc_tag(1, 0) + enc_varint(sec)
    if ns:
        out += enc_tag(2, 0) + enc_varint(ns)
    return out


def enc_jaeger_kv(key: str, value) -> bytes:
    out = enc_ld(1, key.encode("utf-8"))
    if isinstance(value, bool):
        out += enc_tag(2, 0) + enc_varint(1) + enc_tag(4, 0) + enc_varint(1 if value else 0)
    elif isinstance(value, int):
        out += enc_tag(2, 0) + enc_varint(2) + enc_tag(5, 0) + enc_varint(value)
    elif isinstance(value, float):
        out += enc_tag(2, 0) + enc_varint(3) + enc_tag(6, 1) + struct.pack("<d", value)
    elif isinstance(value, bytes):
        out += enc_tag(2, 0) + enc_varint(4) + enc_ld(7, value)
    else:
        out += enc_ld(3, str(value).encode("utf-8"))  # v_type 0 (default) omitted
    return out


def enc_jaeger_span(
    trace_id: bytes, span_id: bytes, op: str, start_us: int, duration_us: int,
    parent_span_id: bytes | None = None, flags: int = 1,
    tags: dict | None = None, service: str | None = None,
    process_tags: dict | None = None,
) -> bytes:
    out = enc_ld(1, trace_id) + enc_ld(2, span_id) + enc_ld(3, op.encode("utf-8"))
    if parent_span_id:
        ref = enc_ld(1, trace_id) + enc_ld(2, parent_span_id)  # ref_type 0 = CHILD_OF
        out += enc_ld(4, ref)
    out += enc_tag(5, 5) + struct.pack("<I", flags)
    out += enc_ld(6, _enc_ts(start_us // 1_000_000, (start_us % 1_000_000) * 1000))
    out += enc_ld(7, _enc_ts(duration_us // 1_000_000, (duration_us % 1_000_000) * 1000))
    for k, v in (tags or {}).items():
        out += enc_ld(8, enc_jaeger_kv(k, v))
    if service is not None:
        proc = enc_ld(1, service.encode("utf-8"))
        for k, v in (process_tags or {}).items():
            proc += enc_ld(2, enc_jaeger_kv(k, v))
        out += enc_ld(10, proc)
    return out


def synthesize_jaeger_spans(df: DataFrame) -> DataFrame:
    """Deterministic per-row jaeger Span payloads from (event_id, user_id,
    event_type): parent refs on two of three, typed tags across all five
    KeyValue variants."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series, types: pd.Series) -> pd.Series:
        out = []
        for i, u, t in zip(ids, users, types):
            i, u = int(i), int(u)
            start = (1_700_000_000 + i % 86400) * 1_000_000 + (i % 1000)
            out.append(
                enc_jaeger_span(
                    trace_id=u.to_bytes(16, "big"),
                    span_id=i.to_bytes(8, "big"),
                    op=t,
                    start_us=start,
                    duration_us=(i % 5000) * 100,
                    parent_span_id=(i - 1).to_bytes(8, "big") if i % 3 != 0 and i > 0 else None,
                    flags=1 + i % 2,
                    tags={"etype": t, "code": i % 7, "ok": i % 2 == 0, "ratio": 0.25},
                    service=f"svc-{u % 4}",
                    process_tags={"host": f"h{u % 5}"},
                )
            )
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "user_id", "event_type"))
