"""Avro binary log decode — the
``extension/encoding/avrologencodingextension`` analogue: a static JSON
schema (`config.go:11`, errNoSchema when absent) drives deserialization of
each payload into a record (`avro.go:30-38`; the reference delegates to
goavro's NativeFromBinary). Here the schema compiles once, on the driver,
into a closure tree and the decode runs on the shared mapInArrow kernel
(``_wire.explode_decode``) — Avro binary is zigzag-varint length-prefixed
data, the same honest Python-UDF case as msgpack and protobuf.

Supported schema subset (the reference's own test schema,
`testdata/schema1.avro`, uses every one of these): null, boolean, int,
long, float, double, bytes, string, enum, array, map, nested record, and
``["null", T]`` unions. Top-level primitive fields become typed Spark
columns; nested records / arrays / maps surface as deterministic rendered
strings (sorted k=v for maps)."""

from __future__ import annotations

import json
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._wire import explode_decode

# --- binary primitives -------------------------------------------------------


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 69:
            raise ValueError("varint overflow")
    return (out >> 1) ^ -(out & 1), pos


def _zigzag_encode(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# --- schema compile ----------------------------------------------------------


def _reader(schema) -> tuple:
    """Compile a (parsed) Avro schema node -> (decode(buf, pos) -> (value,
    pos), kind) where kind names the top-level Spark mapping."""
    if isinstance(schema, list):  # union — branch index then value
        branches = [_reader(s) for s in schema]

        def dec_union(buf, pos, branches=branches):
            idx, pos = _zigzag_decode(buf, pos)
            return branches[idx][0](buf, pos)

        kinds = {k for _, k in branches if k != "null"}
        return dec_union, kinds.pop() if len(kinds) == 1 else "string"
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            fields = [(f["name"], _reader(f["type"])) for f in schema["fields"]]

            def dec_record(buf, pos, fields=fields):
                out = {}
                for name, (dec, _) in fields:
                    out[name], pos = dec(buf, pos)
                return out, pos

            return dec_record, "record"
        if t == "enum":
            symbols = schema["symbols"]

            def dec_enum(buf, pos, symbols=symbols):
                idx, pos = _zigzag_decode(buf, pos)
                return symbols[idx], pos

            return dec_enum, "string"
        if t == "array":
            item, _ = _reader(schema["items"])

            def dec_array(buf, pos, item=item):
                out = []
                while True:
                    n, pos = _zigzag_decode(buf, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:  # negative count: block byte size follows
                        _, pos = _zigzag_decode(buf, pos)
                        n = -n
                    for _ in range(n):
                        v, pos = item(buf, pos)
                        out.append(v)

            return dec_array, "array"
        if t == "map":
            val, _ = _reader(schema["values"])

            def dec_map(buf, pos, val=val):
                out = {}
                while True:
                    n, pos = _zigzag_decode(buf, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:
                        _, pos = _zigzag_decode(buf, pos)
                        n = -n
                    for _ in range(n):
                        klen, pos = _zigzag_decode(buf, pos)
                        if klen < 0 or pos + klen > len(buf):
                            # a negative length would move pos BACKWARDS and
                            # loop forever on the same block count
                            raise ValueError("bad map key length")
                        k = buf[pos : pos + klen].decode("utf-8")
                        pos += klen
                        out[k], pos = val(buf, pos)

            return dec_map, "map"
        return _reader(t)  # {"type": "string"} wrapper
    if schema == "null":
        return (lambda buf, pos: (None, pos)), "null"
    if schema == "boolean":
        return (lambda buf, pos: (buf[pos] != 0, pos + 1)), "boolean"
    if schema in ("int", "long"):
        return _zigzag_decode, "long"
    if schema == "float":
        return (lambda buf, pos: (struct.unpack_from("<f", buf, pos)[0], pos + 4)), "double"
    if schema == "double":
        return (lambda buf, pos: (struct.unpack_from("<d", buf, pos)[0], pos + 8)), "double"
    if schema in ("bytes", "string"):

        def dec_str(buf, pos, is_str=schema == "string"):
            n, pos = _zigzag_decode(buf, pos)
            if n < 0:
                raise ValueError("negative length")
            raw = bytes(buf[pos : pos + n])
            if len(raw) != n:
                raise ValueError("truncated")
            return (raw.decode("utf-8") if is_str else raw), pos + n

        return dec_str, "string" if schema == "string" else "bytes"
    raise ValueError(f"unsupported avro type {schema!r}")


_KIND_SPARK = {
    "long": T.LongType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "bytes": T.StringType(),  # surfaced as hex
    "null": T.StringType(),
    "record": T.StringType(),
    "array": T.StringType(),
    "map": T.StringType(),
}


def _render(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(str(_render(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_render(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _shape(v, kind: str):
    """A decoded value as its output column's Python type."""
    if v is None:
        return None
    if kind == "long":
        return int(v)
    if kind == "double":
        return float(v)
    if kind == "boolean":
        return bool(v)
    return _render(v)


def parse_avro(df: DataFrame, source: str, schema_json: str, prefix: str = "av_") -> DataFrame:
    """One row per payload, one `prefix`-ed output column per top-level
    record field, typed by the schema (primitives native, complex values
    rendered). Malformed payloads yield all-NULL avro columns
    (on_error=send; the reference errors the whole batch — per-row
    isolation is strictly better over a table). The schema must be a
    record, same as goavro's root-codec requirement."""
    schema = json.loads(schema_json)
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("root avro schema must be a record")
    dec, _ = _reader(schema)
    kinds = {prefix + f["name"]: _reader(f["type"])[1] for f in schema["fields"]}

    def decode(payload: bytes) -> list[dict]:
        try:
            native, _pos = dec(payload, 0)
            return [{prefix + k: _shape(v, kinds[prefix + k]) for k, v in native.items()}]
        except Exception:  # noqa: BLE001 — malformed -> NULL fields
            return [dict.fromkeys(kinds)]

    fields = [T.StructField(c, _KIND_SPARK[k]) for c, k in kinds.items()]
    return explode_decode(df, source, fields, decode)


# --- encode side (fixtures/tests) --------------------------------------------


def avro_encode(schema, value) -> bytes:
    """Schema-driven binary encode of `value` (the goavro BinaryFromNative
    analogue for fixtures)."""
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type", branch)
            if (value is None) == (bt == "null"):
                return _zigzag_encode(i) + avro_encode(branch, value)
        raise ValueError("no union branch")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return b"".join(avro_encode(f["type"], value[f["name"]]) for f in schema["fields"])
        if t == "enum":
            return _zigzag_encode(schema["symbols"].index(value))
        if t == "array":
            if not value:
                return _zigzag_encode(0)
            body = b"".join(avro_encode(schema["items"], v) for v in value)
            return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
        if t == "map":
            if not value:
                return _zigzag_encode(0)
            body = b""
            for k, v in value.items():
                kb = k.encode("utf-8")
                body += _zigzag_encode(len(kb)) + kb + avro_encode(schema["values"], v)
            return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
        return avro_encode(t, value)
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if value else b"\x00"
    if schema in ("int", "long"):
        return _zigzag_encode(int(value))
    if schema == "float":
        return struct.pack("<f", value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema in ("bytes", "string"):
        raw = value.encode("utf-8") if isinstance(value, str) else value
        return _zigzag_encode(len(raw)) + raw
    raise ValueError(f"unsupported avro type {schema!r}")


# the reference's own test schema (testdata/schema1.avro), reused as the
# fixture contract for the oracle-gated query
AVRO_LOG_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "LogMsg",
        "fields": [
            {"name": "timestamp", "type": "long"},
            {"name": "message", "type": "string"},
            {"name": "hostname", "type": "string"},
            {"name": "count", "type": "int"},
            {
                "name": "levelEnum",
                "type": {"type": "enum", "name": "Level", "symbols": ["DEBUG", "INFO", "ERROR"]},
            },
            {"name": "severity", "type": "int"},
            {"name": "level", "type": ["null", "string"]},
            {"name": "properties", "type": {"type": "array", "items": "string"}},
            {
                "name": "nestedRecord",
                "type": {
                    "type": "record",
                    "name": "NestedRecord",
                    "fields": [
                        {"name": "field1", "type": "long"},
                        {"name": "field2", "type": "string"},
                    ],
                },
            },
            {"name": "mapField", "type": {"type": "map", "values": "string"}},
        ],
    }
)

_LEVELS = ["DEBUG", "INFO", "ERROR"]


def synthesize_avro_logs(df: DataFrame) -> DataFrame:
    """Deterministic Avro binary payloads from (event_id, user_id,
    event_type) under AVRO_LOG_SCHEMA: null-union level on every 7th row,
    empty array/map on every 4th/5th."""
    schema = json.loads(AVRO_LOG_SCHEMA)

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series, types: pd.Series) -> pd.Series:
        out = []
        for i, u, t in zip(ids, users, types):
            i, u = int(i), int(u)
            val = {
                "timestamp": (1_700_000_000 + i % 86400) * 1_000_000_000,
                "message": f"m{i}",
                "hostname": f"h{u % 5}",
                "count": i % 100,
                "levelEnum": _LEVELS[i % 3],
                "severity": i % 5,
                "level": None if i % 7 == 0 else "warn",
                "properties": [] if i % 4 == 0 else [t, "p2"],
                "nestedRecord": {"field1": i % 9, "field2": "val2"},
                "mapField": {} if i % 5 == 0 else {"k": t},
            }
            out.append(avro_encode(schema, val))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "user_id", "event_type"))
