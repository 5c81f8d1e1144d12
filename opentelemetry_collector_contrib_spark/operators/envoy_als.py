"""Envoy ALS (gRPC Access Log Service) decode — the envoyalsreceiver's
ingest surface with a structured mapping.

The reference (receiver/envoyalsreceiver/internal/als/server.go:63-99)
receives `envoy.service.accesslog.v3.StreamAccessLogsMessage` over gRPC
and emits one log record per HTTP/TCP entry, stamping `api_version` and
`log_type` attributes and stringifying the entry into the body. Here the
message is a binary column and the decode goes further than the
reference's debug-string body: the widely-queried fields of
`envoy.data.accesslog.v3.{HTTPAccessLogEntry,TCPAccessLogEntry}` flatten
into typed columns, reimplemented from the public Envoy data-plane-api
protos (data/accesslog/v3/accesslog.proto — field numbers in the
docstrings below; the proto is stable/v3).

Same operator shape as the other binary decoders: the shared mapInArrow
kernel `_wire.explode_decode` over the payload scan, malformed messages drop, zero shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._wire import as_bytes, enc_ld, enc_tag, enc_varint, explode_decode, iter_fields


def _i63(v: int) -> int:
    """Byte counters are uint64 on the wire but land in LongType columns;
    a value >= 2^63 would abort the task at Arrow conversion instead of
    dropping the one malformed message — raise so explode_decode drops it."""
    v = int(v)
    if v >> 63:
        raise ValueError(f"counter {v} exceeds int64")
    return v

# core.v3.RequestMethod / HTTPAccessLogEntry.HTTPVersion enums
_METHODS = {
    0: "METHOD_UNSPECIFIED", 1: "GET", 2: "HEAD", 3: "POST", 4: "PUT",
    5: "DELETE", 6: "CONNECT", 7: "OPTIONS", 8: "TRACE", 9: "PATCH",
}
_HTTP_VERSIONS = {0: "PROTOCOL_UNSPECIFIED", 1: "HTTP10", 2: "HTTP11", 3: "HTTP2", 4: "HTTP3"}

_ALS_FIELDS = [
    T.StructField("ea_type", T.StringType()),          # log_type attr (server.go:84,95)
    T.StructField("ea_log_name", T.StringType()),      # identifier.log_name (:73)
    T.StructField("ea_start_us", T.LongType()),
    T.StructField("ea_duration_us", T.LongType()),     # time_to_last_downstream_tx_byte
    T.StructField("ea_protocol", T.StringType()),
    T.StructField("ea_method", T.StringType()),
    T.StructField("ea_scheme", T.StringType()),
    T.StructField("ea_authority", T.StringType()),
    T.StructField("ea_path", T.StringType()),
    T.StructField("ea_user_agent", T.StringType()),
    T.StructField("ea_request_id", T.StringType()),
    T.StructField("ea_down_addr", T.StringType()),
    T.StructField("ea_down_port", T.IntegerType()),
    T.StructField("ea_upstream_cluster", T.StringType()),
    T.StructField("ea_route_name", T.StringType()),
    T.StructField("ea_req_body_bytes", T.LongType()),
    T.StructField("ea_resp_code", T.IntegerType()),
    T.StructField("ea_resp_body_bytes", T.LongType()),
    T.StructField("ea_rx_bytes", T.LongType()),        # tcp connection_properties
    T.StructField("ea_tx_bytes", T.LongType()),
]


def _dec_socket_address(buf: bytes) -> tuple[str | None, int]:
    """core.v3.Address: socket_address=1{protocol=1, address=2,
    port_value=3}; pipe/internal address variants yield (None, 0)."""
    for f1, _, v1 in iter_fields(buf):
        if f1 == 1:
            addr, port = None, 0
            for f2, _, v2 in iter_fields(as_bytes(v1)):
                if f2 == 2:
                    addr = as_bytes(v2).decode("utf-8", errors="replace")
                elif f2 == 3:
                    port = int(v2) & 0x7FFFFFFF  # int32 column; mask corrupt varints
            return addr, port
    return None, 0


def _dec_ts_us(buf: bytes) -> int:
    """google.protobuf.Timestamp/Duration {seconds=1, nanos=2} → µs."""
    secs = nanos = 0
    for f, _, v in iter_fields(buf):
        if f == 1:
            secs = int(v)
        elif f == 2:
            nanos = int(v)
    return _i63(secs * 1_000_000 + nanos // 1000)


def _dec_common(buf: bytes, row: dict) -> None:
    """AccessLogCommon: downstream_remote_address=2, start_time=5,
    time_to_last_downstream_tx_byte=12, upstream_cluster=15,
    route_name=19 (accesslog.proto field numbers)."""
    for f, _, v in iter_fields(buf):
        if f == 2:
            row["ea_down_addr"], row["ea_down_port"] = _dec_socket_address(as_bytes(v))
        elif f == 5:
            row["ea_start_us"] = _dec_ts_us(as_bytes(v))
        elif f == 12:
            row["ea_duration_us"] = _dec_ts_us(as_bytes(v))
        elif f == 15:
            row["ea_upstream_cluster"] = as_bytes(v).decode("utf-8", errors="replace")
        elif f == 19:
            row["ea_route_name"] = as_bytes(v).decode("utf-8", errors="replace")


def _new_row(kind: str, log_name: str | None) -> dict:
    return {
        "ea_type": kind, "ea_log_name": log_name,
        "ea_start_us": 0, "ea_duration_us": 0,
        "ea_protocol": None, "ea_method": None, "ea_scheme": None,
        "ea_authority": None, "ea_path": None, "ea_user_agent": None,
        "ea_request_id": None, "ea_down_addr": None, "ea_down_port": 0,
        "ea_upstream_cluster": None, "ea_route_name": None,
        "ea_req_body_bytes": 0, "ea_resp_code": 0, "ea_resp_body_bytes": 0,
        "ea_rx_bytes": 0, "ea_tx_bytes": 0,
    }


def decode_als_message(payload: bytes) -> list[dict]:
    """StreamAccessLogsMessage: identifier=1{log_name=2}, http_logs=2
    {log_entry=1 repeated}, tcp_logs=3{log_entry=1 repeated}.
    HTTPAccessLogEntry: common_properties=1, protocol_version=2,
    request=3{method=1, scheme=2, authority=3, path=5, user_agent=6,
    request_id=9, request_body_bytes=12}, response=4{response_code=1,
    response_body_bytes=3}. TCPAccessLogEntry: common_properties=1,
    connection_properties=2{received_bytes=1, sent_bytes=2}."""
    log_name = None
    http_entries: list[bytes] = []
    tcp_entries: list[bytes] = []
    for f1, _, v1 in iter_fields(payload):
        if f1 == 1:
            for f2, _, v2 in iter_fields(as_bytes(v1)):
                if f2 == 2:
                    log_name = as_bytes(v2).decode("utf-8", errors="replace")
        elif f1 == 2:
            for f2, _, v2 in iter_fields(as_bytes(v1)):
                if f2 == 1:
                    http_entries.append(as_bytes(v2))
        elif f1 == 3:
            for f2, _, v2 in iter_fields(as_bytes(v1)):
                if f2 == 1:
                    tcp_entries.append(as_bytes(v2))
    rows = []
    for entry in http_entries:
        row = _new_row("http", log_name)
        for f, _, v in iter_fields(entry):
            if f == 1:
                _dec_common(as_bytes(v), row)
            elif f == 2:
                row["ea_protocol"] = _HTTP_VERSIONS.get(int(v), str(int(v)))
            elif f == 3:
                for f2, _, v2 in iter_fields(as_bytes(v)):
                    if f2 == 1:
                        row["ea_method"] = _METHODS.get(int(v2), str(int(v2)))
                    elif f2 == 2:
                        row["ea_scheme"] = as_bytes(v2).decode("utf-8", errors="replace")
                    elif f2 == 3:
                        row["ea_authority"] = as_bytes(v2).decode("utf-8", errors="replace")
                    elif f2 == 5:
                        row["ea_path"] = as_bytes(v2).decode("utf-8", errors="replace")
                    elif f2 == 6:
                        row["ea_user_agent"] = as_bytes(v2).decode("utf-8", errors="replace")
                    elif f2 == 9:
                        row["ea_request_id"] = as_bytes(v2).decode("utf-8", errors="replace")
                    elif f2 == 12:
                        row["ea_req_body_bytes"] = _i63(v2)
            elif f == 4:
                for f2, _, v2 in iter_fields(as_bytes(v)):
                    if f2 == 1:
                        # response_code is a google.protobuf.UInt32Value
                        for f3, _, v3 in iter_fields(as_bytes(v2)):
                            if f3 == 1:
                                row["ea_resp_code"] = int(v3) & 0x7FFFFFFF
                    elif f2 == 3:
                        row["ea_resp_body_bytes"] = _i63(v2)
        rows.append(row)
    for entry in tcp_entries:
        row = _new_row("tcp", log_name)
        for f, _, v in iter_fields(entry):
            if f == 1:
                _dec_common(as_bytes(v), row)
            elif f == 2:
                for f2, _, v2 in iter_fields(as_bytes(v)):
                    if f2 == 1:
                        row["ea_rx_bytes"] = _i63(v2)
                    elif f2 == 2:
                        row["ea_tx_bytes"] = _i63(v2)
        rows.append(row)
    return rows


def parse_envoy_als(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per access-log entry in each StreamAccessLogsMessage."""
    return explode_decode(df, source, _ALS_FIELDS, decode_als_message)


# --- encoders (fixtures/tests) ------------------------------------------------


def _enc_uvarint_field(fnum: int, v: int) -> bytes:
    return enc_tag(fnum, 0) + enc_varint(v)


def enc_socket_address(addr: str, port: int) -> bytes:
    sa = enc_ld(2, addr.encode()) + _enc_uvarint_field(3, port)
    return enc_ld(1, sa)


def enc_ts(us: int) -> bytes:
    return _enc_uvarint_field(1, us // 1_000_000) + _enc_uvarint_field(2, (us % 1_000_000) * 1000)


def enc_http_entry(
    start_us: int, duration_us: int, method: int, scheme: str, authority: str,
    path: str, user_agent: str, request_id: str, req_bytes: int, code: int,
    resp_bytes: int, down_addr: str, down_port: int, cluster: str,
    route: str, protocol: int = 2,
) -> bytes:
    common = (
        enc_ld(2, enc_socket_address(down_addr, down_port))
        + enc_ld(5, enc_ts(start_us))
        + enc_ld(12, enc_ts(duration_us))
        + enc_ld(15, cluster.encode())
        + enc_ld(19, route.encode())
    )
    req = (
        _enc_uvarint_field(1, method) + enc_ld(2, scheme.encode())
        + enc_ld(3, authority.encode()) + enc_ld(5, path.encode())
        + enc_ld(6, user_agent.encode()) + enc_ld(9, request_id.encode())
        + _enc_uvarint_field(12, req_bytes)
    )
    resp = enc_ld(1, _enc_uvarint_field(1, code)) + _enc_uvarint_field(3, resp_bytes)
    return (
        enc_ld(1, common) + _enc_uvarint_field(2, protocol) + enc_ld(3, req) + enc_ld(4, resp)
    )


def enc_tcp_entry(start_us: int, rx: int, tx: int, down_addr: str, down_port: int,
                  cluster: str) -> bytes:
    common = (
        enc_ld(2, enc_socket_address(down_addr, down_port))
        + enc_ld(5, enc_ts(start_us))
        + enc_ld(15, cluster.encode())
    )
    conn = _enc_uvarint_field(1, rx) + _enc_uvarint_field(2, tx)
    return enc_ld(1, common) + enc_ld(2, conn)


def enc_als_message(log_name: str, http: list[bytes], tcp: list[bytes] | None = None) -> bytes:
    out = enc_ld(1, enc_ld(2, log_name.encode()))
    if http:
        out += enc_ld(2, b"".join(enc_ld(1, e) for e in http))
    if tcp:
        out += enc_ld(3, b"".join(enc_ld(1, e) for e in tcp))
    return out


def synthesize_envoy_als(df: DataFrame) -> DataFrame:
    """Deterministic StreamAccessLogsMessages from (event_id, user_id):
    one message per event with one HTTP entry and one TCP entry."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series) -> pd.Series:
        out = []
        for i, u in zip(ids, users):
            i, u = int(i), int(u)
            us = (1_700_000_000 + i % 86400) * 1_000_000 + (i % 1000) * 1000
            http = enc_http_entry(
                start_us=us, duration_us=(i % 500 + 1) * 1000,
                method=1 if i % 4 else 3, scheme="https",
                authority=f"svc-{u % 5}.internal", path=f"/api/v{i % 3}/items/{i % 100}",
                user_agent=f"client/{u % 7}", request_id=f"req-{i}",
                req_bytes=(i * 17) % 4000, code=200 if i % 10 else 503,
                resp_bytes=(i * 31) % 100_000,
                down_addr=f"10.{u % 256}.{i % 256}.9", down_port=40000 + i % 1000,
                cluster=f"cl-{u % 4}", route=f"route-{i % 6}",
                protocol=3 if i % 2 else 4,  # odd → HTTP2, even → HTTP3
            )
            tcp = enc_tcp_entry(
                start_us=us, rx=(i * 7) % 50_000, tx=(i * 11) % 50_000,
                down_addr=f"10.{u % 256}.{i % 256}.9", down_port=40000 + i % 1000,
                cluster=f"cl-{u % 4}",
            )
            out.append(enc_als_message(f"als-{u % 3}", [http], [tcp]))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "user_id"))
