"""Zipkin protobuf (v2) span decode — the ``zipkin_proto`` protocol of
``extension/encoding/zipkinencodingextension`` (extension.go:20) and the
``application/x-protobuf`` path of ``receiver/zipkinreceiver``
(proto_parse_test.go exercises the zipkin-go ``zipkin_proto3`` payloads).

Wire contract is the public openzipkin ``zipkin.proto``:

  ListOfSpans{ spans=1 repeated Span }
  Span{ trace_id=1 (bytes), parent_id=2 (bytes), id=3 (bytes),
        kind=4 (enum 0 UNSPECIFIED / 1 CLIENT / 2 SERVER / 3 PRODUCER /
        4 CONSUMER), name=5, timestamp=6 (fixed64 epoch µs),
        duration=7 (uint64 µs), local_endpoint=8, remote_endpoint=9,
        annotations=10 repeated, tags=11 map<string,string>,
        debug=12 (bool), shared=13 (bool) }
  Endpoint{ service_name=1, ipv4=2 (4 bytes), ipv6=3 (16 bytes),
        port=4 (varint) }
  Annotation{ timestamp=1 (fixed64 µs), value=2 }

Reuses the proto-wire reader and decode kernel from ``_wire``; the zipkinv2 translator's
observable mapping (kind enum → name, CHILD parent id, tag map) surfaces
as flat columns, tags/annotations as sorted CSVs so results hash
deterministically on every engine."""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._wire import as_bytes, enc_ld, enc_tag, enc_varint, explode_decode, iter_fields

_KIND_NAMES = {1: "CLIENT", 2: "SERVER", 3: "PRODUCER", 4: "CONSUMER"}

_ZK_FIELDS = [
    T.StructField("zk_trace_id", T.StringType()),
    T.StructField("zk_span_id", T.StringType()),
    T.StructField("zk_parent_span_id", T.StringType()),
    T.StructField("zk_name", T.StringType()),
    T.StructField("zk_kind", T.StringType()),
    T.StructField("zk_ts_us", T.LongType()),
    T.StructField("zk_duration_us", T.LongType()),
    T.StructField("zk_service", T.StringType()),
    T.StructField("zk_remote_service", T.StringType()),
    T.StructField("zk_tags_csv", T.StringType()),
    T.StructField("zk_anno_csv", T.StringType()),
    T.StructField("zk_debug", T.BooleanType()),
    T.StructField("zk_shared", T.BooleanType()),
]


def _endpoint_service(buf: bytes) -> str | None:
    for f, w, v in iter_fields(buf):
        if f == 1 and w == 2:
            return as_bytes(v).decode("utf-8", errors="replace")
    return None


def _decode_span(buf: bytes) -> dict:
    row: dict = dict.fromkeys(f.name for f in _ZK_FIELDS)
    row["zk_debug"] = False
    row["zk_shared"] = False
    tags: list[tuple[str, str]] = []
    annos: list[tuple[int, str]] = []
    for f, w, v in iter_fields(buf):
        if f == 1 and w == 2:
            row["zk_trace_id"] = bytes(v).hex()
        elif f == 2 and w == 2:
            row["zk_parent_span_id"] = bytes(v).hex()
        elif f == 3 and w == 2:
            row["zk_span_id"] = bytes(v).hex()
        elif f == 4 and w == 0:
            row["zk_kind"] = _KIND_NAMES.get(int(v))  # 0/unknown -> NULL
        elif f == 5 and w == 2:
            row["zk_name"] = v.decode("utf-8", errors="replace")
        elif f == 6 and w == 1:
            row["zk_ts_us"] = struct.unpack("<Q", v)[0]
        elif f == 7 and w == 0:
            row["zk_duration_us"] = int(v)
        elif f == 8 and w == 2:
            row["zk_service"] = _endpoint_service(v)
        elif f == 9 and w == 2:
            row["zk_remote_service"] = _endpoint_service(v)
        elif f == 10 and w == 2:
            ts, val = 0, ""
            for af, aw, av in iter_fields(v):
                if af == 1 and aw == 1:
                    ts = struct.unpack("<Q", av)[0]
                elif af == 2 and aw == 2:
                    val = av.decode("utf-8", errors="replace")
            annos.append((ts, val))
        elif f == 11 and w == 2:
            # map<string,string> entry: key=1, value=2
            k = val = ""
            for mf, mw, mv in iter_fields(v):
                if mf == 1 and mw == 2:
                    k = mv.decode("utf-8", errors="replace")
                elif mf == 2 and mw == 2:
                    val = mv.decode("utf-8", errors="replace")
            tags.append((k, val))
        elif f == 12 and w == 0:
            row["zk_debug"] = bool(v)
        elif f == 13 and w == 0:
            row["zk_shared"] = bool(v)
    if row["zk_trace_id"] is None or row["zk_span_id"] is None:
        raise ValueError("not a zipkin span")
    row["zk_tags_csv"] = ",".join(f"{k}={v}" for k, v in sorted(tags)) if tags else None
    row["zk_anno_csv"] = ",".join(f"{t}:{v}" for t, v in sorted(annos)) if annos else None
    return row


def decode_zipkin_list(payload: bytes) -> list[dict]:
    """One ListOfSpans payload → one row per span (the POST body the
    receiver accepts; trace_receiver.go's protobuf branch)."""
    out = []
    for f, w, v in iter_fields(payload):
        if f == 1 and w == 2:
            out.append(_decode_span(as_bytes(v)))
    if not out:
        raise ValueError("empty ListOfSpans")
    return out


def parse_zipkin_pb_spans(df: DataFrame, source: str = "payload") -> DataFrame:
    """Arrow-batched decode, one row per span; malformed payloads drop
    (the receiver's 400 path). Scale: pure mapInArrow over the scan —
    no shuffle; the decoder is a flat single-pass wire walk."""
    return explode_decode(df, source, _ZK_FIELDS, decode_zipkin_list)


# --- encode side (fixtures/tests) --------------------------------------------


def _enc_endpoint(service: str | None, ipv4: bytes | None = None, port: int | None = None) -> bytes:
    out = b""
    if service is not None:
        out += enc_ld(1, service.encode("utf-8"))
    if ipv4:
        out += enc_ld(2, ipv4)
    if port:
        out += enc_tag(4, 0) + enc_varint(port)
    return out


def enc_zipkin_span(
    trace_id: bytes, span_id: bytes, name: str, ts_us: int, duration_us: int,
    kind: int = 0, parent_id: bytes | None = None,
    service: str | None = None, remote_service: str | None = None,
    tags: dict[str, str] | None = None,
    annotations: list[tuple[int, str]] | None = None,
    debug: bool = False, shared: bool = False,
) -> bytes:
    out = enc_ld(1, trace_id)
    if parent_id:
        out += enc_ld(2, parent_id)
    out += enc_ld(3, span_id)
    if kind:
        out += enc_tag(4, 0) + enc_varint(kind)
    out += enc_ld(5, name.encode("utf-8"))
    out += enc_tag(6, 1) + struct.pack("<Q", ts_us)
    out += enc_tag(7, 0) + enc_varint(duration_us)
    if service is not None:
        out += enc_ld(8, _enc_endpoint(service, b"\x0a\x00\x00\x01", 8080))
    if remote_service is not None:
        out += enc_ld(9, _enc_endpoint(remote_service, None, 5432))
    for ts, val in annotations or []:
        out += enc_ld(10, enc_tag(1, 1) + struct.pack("<Q", ts) + enc_ld(2, val.encode("utf-8")))
    for k, v in (tags or {}).items():
        out += enc_ld(11, enc_ld(1, k.encode("utf-8")) + enc_ld(2, v.encode("utf-8")))
    if debug:
        out += enc_tag(12, 0) + enc_varint(1)
    if shared:
        out += enc_tag(13, 0) + enc_varint(1)
    return out


def enc_zipkin_list(spans: list[bytes]) -> bytes:
    return b"".join(enc_ld(1, s) for s in spans)


def synthesize_zipkin_pb(df: DataFrame) -> DataFrame:
    """Deterministic ListOfSpans per event row (event_id, user_id,
    event_type, ts): a SERVER root span with tags + one annotation, and a
    CLIENT child with a remote endpoint; debug/shared toggled by modulus so
    both bool paths decode."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series, types: pd.Series, ts_us: pd.Series) -> pd.Series:
        out = []
        for i, u, t, us in zip(ids, users, types, ts_us):
            i, u, us = int(i), int(u), int(us)
            trace = i.to_bytes(16, "big")
            root = i.to_bytes(8, "big")
            child = (2 * i + 1).to_bytes(8, "big")
            s1 = enc_zipkin_span(
                trace, root, str(t), us, 1000, kind=2, service="api",
                tags={"env": "prod", "user": f"u{u % 7}"},
                annotations=[(us, "recv")], debug=i % 5 == 0,
            )
            s2 = enc_zipkin_span(
                trace, child, f"{t}_call", us, 500, kind=1, parent_id=root,
                remote_service="db", shared=i % 3 == 0,
            )
            out.append(enc_zipkin_list([s1, s2]))
        return pd.Series(out)

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.withColumn("payload", gen(F.col("event_id"), F.col("user_id"), F.col("event_type"), us))
