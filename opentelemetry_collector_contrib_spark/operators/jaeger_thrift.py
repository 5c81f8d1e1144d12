"""Jaeger Thrift compact-protocol batch decode — the ``thrift_compact``
UDP protocol of ``receiver/jaegerreceiver`` (config.go:43; the jaeger
agent's classic emitBatch payload). A different codec family from the
protobuf modules: Apache Thrift compact protocol (public spec
thrift/doc/specs/thrift-compact-protocol.md) over the public jaeger-idl
``jaeger.thrift``:

  Batch{ 1: Process process, 2: list<Span> spans }
  Process{ 1: string serviceName, 2: list<Tag> tags }
  Span{ 1: i64 traceIdLow, 2: i64 traceIdHigh, 3: i64 spanId,
        4: i64 parentSpanId, 5: string operationName,
        6: list<SpanRef> references, 7: i32 flags,
        8: i64 startTime (µs), 9: i64 duration (µs),
        10: list<Tag> tags, 11: list<Log> logs }
  Tag{ 1: string key, 2: i32 vType (0 STRING / 1 DOUBLE / 2 BOOL /
       3 LONG / 4 BINARY), 3: vStr, 4: vDouble, 5: vBool, 6: vLong,
       7: vBinary }
  Log{ 1: i64 timestamp (µs), 2: list<Tag> fields }

Compact-protocol grammar implemented: short/long struct field headers
(delta<<4|type, zigzag field ids), zigzag varint i16/i32/i64,
little-endian doubles, varint-length binaries, (size<<4|elemtype) list
headers with the 0xF long form, bool-in-field-type vs bool-in-list
encodings, and unknown-field skip by type — so payloads from newer IDL
revisions decode instead of erroring.

Tag values render with the same observable mapping as ``jaeger_pb``
(bool → true/false, double → repr, binary → hex) so the two wire paths
are directly comparable."""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._wire import enc_varint, explode_decode

CT_STOP, CT_TRUE, CT_FALSE, CT_BYTE, CT_I16, CT_I32, CT_I64 = 0, 1, 2, 3, 4, 5, 6
CT_DOUBLE, CT_BINARY, CT_LIST, CT_SET, CT_MAP, CT_STRUCT = 7, 8, 9, 10, 11, 12


def _rv(buf: bytes, pos: int) -> tuple[int, int]:
    """Unsigned LEB128 varint."""
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _zz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _read_value(buf: bytes, pos: int, t: int):
    """One compact-protocol value of type t (list/set/struct recurse)."""
    if t in (CT_TRUE, CT_FALSE):
        # only reachable as a LIST element; field-level bools live in the
        # field-header type nibble and never call here
        b = buf[pos]
        return b == 1, pos + 1
    if t == CT_BYTE:
        b = buf[pos]
        return b - 256 if b >= 128 else b, pos + 1
    if t in (CT_I16, CT_I32, CT_I64):
        v, pos = _rv(buf, pos)
        return _zz(v), pos
    if t == CT_DOUBLE:
        return struct.unpack("<d", buf[pos : pos + 8])[0], pos + 8
    if t == CT_BINARY:
        n, pos = _rv(buf, pos)
        if pos + n > len(buf):
            raise ValueError("truncated binary")
        return bytes(buf[pos : pos + n]), pos + n
    if t in (CT_LIST, CT_SET):
        hdr = buf[pos]
        pos += 1
        size, et = hdr >> 4, hdr & 0xF
        if size == 0xF:
            size, pos = _rv(buf, pos)
        if size > len(buf) - pos:  # every element consumes >= 1 byte
            raise ValueError("list size exceeds payload")
        out = []
        for _ in range(size):
            v, pos = _read_value(buf, pos, et)
            out.append(v)
        return out, pos
    if t == CT_MAP:
        size, pos = _rv(buf, pos)
        if size == 0:
            return {}, pos
        if 2 * size > len(buf) - pos:  # every k,v pair consumes >= 2 bytes
            raise ValueError("map size exceeds payload")
        kv = buf[pos]
        pos += 1
        kt, vt = kv >> 4, kv & 0xF
        out = {}
        for _ in range(size):
            k, pos = _read_value(buf, pos, kt)
            v, pos = _read_value(buf, pos, vt)
            out[k] = v
        return out, pos
    if t == CT_STRUCT:
        return _read_struct(buf, pos)
    raise ValueError(f"unknown compact type {t}")


def _read_struct(buf: bytes, pos: int) -> tuple[dict[int, object], int]:
    """Generic struct → {field_id: value}; bool field headers carry the
    value in the type nibble (TRUE/FALSE), everything else reads a value."""
    fields: dict[int, object] = {}
    last = 0
    while True:
        b = buf[pos]
        pos += 1
        if b == CT_STOP:
            return fields, pos
        delta, t = (b >> 4) & 0xF, b & 0xF
        if delta:
            fid = last + delta
        else:
            v, pos = _rv(buf, pos)
            fid = _zz(v)
        last = fid
        if t == CT_TRUE:
            fields[fid] = True
        elif t == CT_FALSE:
            fields[fid] = False
        else:
            fields[fid], pos = _read_value(buf, pos, t)


# --- Thrift binary protocol (the thrift_binary UDP variant, config.go:42) ----
# Fixed-width big-endian grammar: 1-byte type, i16 field id, i32 lengths.
# Type codes differ from compact: 2 BOOL, 3 BYTE, 4 DOUBLE, 6 I16, 8 I32,
# 10 I64, 11 STRING, 12 STRUCT, 13 MAP, 14 SET, 15 LIST.

_BIN_FIXED = {2: 1, 3: 1, 4: 8, 6: 2, 8: 4, 10: 8}


def _read_value_binary(buf: bytes, pos: int, t: int):
    # Every fixed-width and size read bounds-checks BEFORE consuming:
    # buf[pos:pos+n] silently shortens past the end (int.from_bytes(b'')
    # is 0), so an unchecked hostile list size would drive O(declared)
    # work on an empty buffer instead of raising.
    if t in _BIN_FIXED:
        n = _BIN_FIXED[t]
        if pos + n > len(buf):
            raise ValueError("truncated fixed-width value")
        raw = buf[pos : pos + n]
        pos += n
        if t == 2:
            return raw[0] == 1, pos
        if t == 4:
            return struct.unpack(">d", raw)[0], pos
        return int.from_bytes(raw, "big", signed=True), pos
    if t == 11:
        if pos + 4 > len(buf):
            raise ValueError("truncated string header")
        n = int.from_bytes(buf[pos : pos + 4], "big")
        pos += 4
        if pos + n > len(buf):
            raise ValueError("truncated binary")
        return bytes(buf[pos : pos + n]), pos + n
    if t in (14, 15):
        if pos + 5 > len(buf):
            raise ValueError("truncated list header")
        et = buf[pos]
        size = int.from_bytes(buf[pos + 1 : pos + 5], "big")
        pos += 5
        if size > len(buf) - pos:  # every element consumes >= 1 byte
            raise ValueError("list size exceeds payload")
        out = []
        for _ in range(size):
            v, pos = _read_value_binary(buf, pos, et)
            out.append(v)
        return out, pos
    if t == 13:
        if pos + 6 > len(buf):
            raise ValueError("truncated map header")
        kt, vt = buf[pos], buf[pos + 1]
        size = int.from_bytes(buf[pos + 2 : pos + 6], "big")
        pos += 6
        if 2 * size > len(buf) - pos:  # every k,v pair consumes >= 2 bytes
            raise ValueError("map size exceeds payload")
        out = {}
        for _ in range(size):
            k, pos = _read_value_binary(buf, pos, kt)
            v, pos = _read_value_binary(buf, pos, vt)
            out[k] = v
        return out, pos
    if t == 12:
        return _read_struct_binary(buf, pos)
    raise ValueError(f"unknown binary type {t}")


def _read_struct_binary(buf: bytes, pos: int) -> tuple[dict[int, object], int]:
    fields: dict[int, object] = {}
    while True:
        t = buf[pos]
        pos += 1
        if t == CT_STOP:
            return fields, pos
        if pos + 2 > len(buf):
            raise ValueError("truncated field id")
        fid = int.from_bytes(buf[pos : pos + 2], "big", signed=True)
        pos += 2
        fields[fid], pos = _read_value_binary(buf, pos, t)


def _tag_render(tag: dict[int, object]) -> tuple[str, str]:
    key = (tag.get(1) or b"").decode("utf-8", errors="replace") if isinstance(tag.get(1), bytes) else str(tag.get(1, ""))
    vtype = tag.get(2, 0)
    if vtype == 0:
        raw = tag.get(3, b"")
        out = raw.decode("utf-8", errors="replace") if isinstance(raw, bytes) else str(raw)
    elif vtype == 1:
        out = repr(float(tag.get(4, 0.0)))
    elif vtype == 2:
        out = "true" if tag.get(5) else "false"
    elif vtype == 3:
        out = str(tag.get(6, 0))
    else:
        raw = tag.get(7, b"")
        out = raw.hex() if isinstance(raw, bytes) else str(raw)
    return key, out


def _tags_csv(tags) -> str | None:
    if not tags:
        return None
    return ",".join(f"{k}={v}" for k, v in sorted(_tag_render(t) for t in tags))


def _hex64(v: int | None) -> str | None:
    if not v:  # jaeger semantics: 0 = unset (root span's parentSpanId)
        return None
    return format(v & 0xFFFFFFFFFFFFFFFF, "016x")


_JT_FIELDS = [
    T.StructField("jt_trace_id", T.StringType()),
    T.StructField("jt_span_id", T.StringType()),
    T.StructField("jt_parent_span_id", T.StringType()),
    T.StructField("jt_op", T.StringType()),
    T.StructField("jt_flags", T.LongType()),
    T.StructField("jt_start_us", T.LongType()),
    T.StructField("jt_duration_us", T.LongType()),
    T.StructField("jt_tags_csv", T.StringType()),
    T.StructField("jt_logs_csv", T.StringType()),
    T.StructField("jt_service", T.StringType()),
    T.StructField("jt_process_tags_csv", T.StringType()),
]


def decode_jaeger_batch(payload: bytes, protocol: str = "compact") -> list[dict]:
    """One Batch payload → one row per span, process stamped on all
    (the receiver's ThriftBatchToInternalTraces path). protocol selects
    the wire grammar — 'compact' (thrift_compact) or 'binary'
    (thrift_binary); the struct interpretation is shared."""
    reader = _read_struct if protocol == "compact" else _read_struct_binary
    batch, _ = reader(payload, 0)
    proc = batch.get(1) or {}
    service = None
    if isinstance(proc.get(1), bytes):
        service = proc[1].decode("utf-8", errors="replace")
    ptags = _tags_csv(proc.get(2))
    spans = batch.get(2) or []
    if not spans:
        raise ValueError("empty jaeger batch")
    out = []
    for sp in spans:
        low, high = int(sp.get(1, 0)), int(sp.get(2, 0))
        trace = format(high & 0xFFFFFFFFFFFFFFFF, "016x") + format(low & 0xFFFFFFFFFFFFFFFF, "016x")
        logs = sp.get(11) or []
        logs_csv = (
            ",".join(
                f"{int(lg.get(1, 0))}:{_tags_csv(lg.get(2)) or ''}" for lg in sorted(logs, key=lambda g: int(g.get(1, 0)))
            )
            or None
        )
        op = sp.get(5)
        if op is not None and not isinstance(op, bytes):
            # a non-BINARY wire type in the operationName slot is corrupt
            # framing; letting e.g. an int through would blow up at the
            # Arrow boundary instead of taking the per-payload drop path
            raise ValueError("operationName is not a binary field")
        out.append(
            {
                "jt_trace_id": trace,
                "jt_span_id": _hex64(int(sp.get(3, 0))),
                "jt_parent_span_id": _hex64(int(sp.get(4, 0))),
                "jt_op": op.decode("utf-8", errors="replace") if op is not None else None,
                "jt_flags": int(sp.get(7, 0)),
                "jt_start_us": int(sp.get(8, 0)),
                "jt_duration_us": int(sp.get(9, 0)),
                "jt_tags_csv": _tags_csv(sp.get(10)),
                "jt_logs_csv": logs_csv,
                "jt_service": service,
                "jt_process_tags_csv": ptags,
            }
        )
    return out


def parse_jaeger_thrift_batches(df: DataFrame, source: str = "payload", protocol: str = "compact") -> DataFrame:
    """Arrow-batched decode; malformed payloads drop (the UDP server's
    discard path). Scale: shuffle-free mapInArrow over the scan."""
    return explode_decode(df, source, _JT_FIELDS, lambda p: decode_jaeger_batch(p, protocol))


# --- encode side (fixtures/tests) --------------------------------------------


def _wzz(v: int) -> bytes:
    return enc_varint((v << 1) ^ (v >> 63) if v < 0 else v << 1)


class _W:
    """Compact-protocol struct writer (tracks the field-id delta chain)."""

    def __init__(self):
        self.buf = bytearray()
        self.last = 0

    def _hdr(self, fid: int, t: int):
        delta = fid - self.last
        if 0 < delta <= 15:
            self.buf.append((delta << 4) | t)
        else:
            self.buf.append(t)
            self.buf += _wzz(fid)
        self.last = fid

    def i(self, fid: int, v: int, t: int = CT_I64):
        self._hdr(fid, t)
        self.buf += _wzz(v)

    def d(self, fid: int, v: float):
        self._hdr(fid, CT_DOUBLE)
        self.buf += struct.pack("<d", v)

    def b(self, fid: int, v: bool):
        self._hdr(fid, CT_TRUE if v else CT_FALSE)

    def s(self, fid: int, v: bytes | str):
        raw = v.encode("utf-8") if isinstance(v, str) else v
        self._hdr(fid, CT_BINARY)
        self.buf += enc_varint(len(raw)) + raw

    def lst(self, fid: int, items: list[bytes], et: int = CT_STRUCT):
        self._hdr(fid, CT_LIST)
        if len(items) < 15:
            self.buf.append((len(items) << 4) | et)
        else:
            self.buf.append(0xF0 | et)
            self.buf += enc_varint(len(items))
        for it in items:
            self.buf += it

    def st(self, fid: int, payload: bytes):
        self._hdr(fid, CT_STRUCT)
        self.buf += payload

    def done(self) -> bytes:
        return bytes(self.buf) + b"\x00"


# Compact type code -> (binary type code, fixed width) for the writer;
# compact STRUCT (12) happens to equal binary STRUCT.
_BIN_OF = {CT_BYTE: (3, 1), CT_I16: (6, 2), CT_I32: (8, 4), CT_I64: (10, 8)}
_BIN_ELEM = {CT_STRUCT: 12, CT_BINARY: 11, CT_I64: 10, CT_I32: 8, CT_DOUBLE: 4,
             CT_TRUE: 2, CT_FALSE: 2, CT_BYTE: 3, CT_I16: 6}


class _WB:
    """Binary-protocol struct writer — same interface as ``_W`` so the
    enc_* fixtures emit either wire grammar (type codes translate via
    _BIN_OF/_BIN_ELEM; field headers are 1-byte type + i16 id)."""

    def __init__(self):
        self.buf = bytearray()

    def _hdr(self, fid: int, t: int):
        self.buf.append(t)
        self.buf += fid.to_bytes(2, "big", signed=True)

    def i(self, fid: int, v: int, t: int = CT_I64):
        bt, n = _BIN_OF[t]
        self._hdr(fid, bt)
        self.buf += int(v).to_bytes(n, "big", signed=True)

    def d(self, fid: int, v: float):
        self._hdr(fid, 4)
        self.buf += struct.pack(">d", v)

    def b(self, fid: int, v: bool):
        self._hdr(fid, 2)
        self.buf.append(1 if v else 0)

    def s(self, fid: int, v: bytes | str):
        raw = v.encode("utf-8") if isinstance(v, str) else v
        self._hdr(fid, 11)
        self.buf += len(raw).to_bytes(4, "big") + raw

    def lst(self, fid: int, items: list[bytes], et: int = CT_STRUCT):
        self._hdr(fid, 15)
        self.buf.append(_BIN_ELEM[et])
        self.buf += len(items).to_bytes(4, "big")
        for it in items:
            self.buf += it

    def st(self, fid: int, payload: bytes):
        self._hdr(fid, 12)
        self.buf += payload

    def done(self) -> bytes:
        return bytes(self.buf) + b"\x00"


def _writer(protocol: str):
    return _W if protocol == "compact" else _WB


def enc_tag(key: str, value, protocol: str = "compact") -> bytes:
    w = _writer(protocol)()
    w.s(1, key)
    if isinstance(value, bool):
        w.i(2, 2, CT_I32)
        w.b(5, value)
    elif isinstance(value, int):
        w.i(2, 3, CT_I32)
        w.i(6, value)
    elif isinstance(value, float):
        w.i(2, 1, CT_I32)
        w.d(4, value)
    elif isinstance(value, bytes):
        w.i(2, 4, CT_I32)
        w.s(7, value)
    else:
        w.i(2, 0, CT_I32)
        w.s(3, str(value))
    return w.done()


def enc_jaeger_thrift_span(
    trace_low: int, trace_high: int, span_id: int, op: str,
    start_us: int, duration_us: int, parent_id: int = 0, flags: int = 1,
    tags: dict | None = None, logs: list[tuple[int, dict]] | None = None,
    protocol: str = "compact",
) -> bytes:
    w = _writer(protocol)()
    w.i(1, trace_low)
    w.i(2, trace_high)
    w.i(3, span_id)
    w.i(4, parent_id)
    w.s(5, op)
    w.i(7, flags, CT_I32)
    w.i(8, start_us)
    w.i(9, duration_us)
    if tags:
        w.lst(10, [enc_tag(k, v, protocol) for k, v in tags.items()])
    if logs:
        ls = []
        for ts, fields in logs:
            lw = _writer(protocol)()
            lw.i(1, ts)
            lw.lst(2, [enc_tag(k, v, protocol) for k, v in fields.items()])
            ls.append(lw.done())
        w.lst(11, ls)
    return w.done()


def enc_jaeger_thrift_batch(
    service: str, spans: list[bytes], process_tags: dict | None = None, protocol: str = "compact"
) -> bytes:
    pw = _writer(protocol)()
    pw.s(1, service)
    if process_tags:
        pw.lst(2, [enc_tag(k, v, protocol) for k, v in process_tags.items()])
    w = _writer(protocol)()
    w.st(1, pw.done())
    w.lst(2, spans)
    return w.done()


def synthesize_jaeger_thrift(df: DataFrame) -> DataFrame:
    """Deterministic Batch per event row (event_id, user_id, event_type,
    ts): a root span with typed tags + one log, and a child span — the
    same two-span shape as the zipkin/jaeger-proto fixtures so the three
    trace wire paths stay comparable."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series, types: pd.Series, ts_us: pd.Series) -> pd.Series:
        out = []
        for i, u, t, us in zip(ids, users, types, ts_us):
            i, u, us = int(i), int(u), int(us)
            root = enc_jaeger_thrift_span(
                i, u, i + 1, str(t), us, 1000,
                tags={"etype": str(t), "ok": i % 2 == 0, "code": i % 7, "ratio": 0.25},
                logs=[(us, {"event": "recv"})],
            )
            child = enc_jaeger_thrift_span(
                i, u, 2 * i + 3, f"{t}_call", us, 500, parent_id=i + 1,
            )
            out.append(
                enc_jaeger_thrift_batch(
                    f"svc-{u % 4}", [root, child], process_tags={"host": f"h{u % 5}"}
                )
            )
        return pd.Series(out)

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.withColumn("payload", gen(F.col("event_id"), F.col("user_id"), F.col("event_type"), us))
