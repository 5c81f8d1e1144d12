"""Proto-wire primitives and the one row-exploding decode kernel shared by
the binary receivers (OTLP, Jaeger, Zipkin, Envoy ALS, pprof, remote-write
v2, sFlow, Fluent Forward, Avro).

Reader: a self-contained proto-wire subset (varint / fixed64 /
length-delimited / fixed32), not a vendored library. ``iter_fields`` yields
every field of one message, unknown ones included, so callers skip what
they do not know exactly as proto requires; truncation and unknown wire
types raise ``ValueError``.

Writer: the inverse primitives the fixture encoders build payloads with.

Kernel: ``explode_decode(df, source, fields, decode)`` runs ``decode``
(bytes -> list of row dicts keyed by ``fields``' names) over each payload
of ``source`` in ``mapInArrow``. Every other input column passes through
once per decoded row, repeated with one Arrow ``take`` so it never becomes
a Python object. A NULL payload, or one whose decode raises, yields no
rows: a malformed request is refused, not half-ingested.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# --- reader ------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def iter_fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) over one message's bytes.
    wire 0 -> int, 1 -> 8 raw bytes, 2 -> bytes, 5 -> 4 raw bytes."""
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        fnum, wtype = key >> 3, key & 0x07
        if wtype == 0:
            v, pos = _read_varint(buf, pos)
        elif wtype == 1:
            v, pos = buf[pos : pos + 8], pos + 8
            if len(v) != 8:
                raise ValueError("truncated fixed64")
        elif wtype == 2:
            n, pos = _read_varint(buf, pos)
            v, pos = buf[pos : pos + n], pos + n
            if len(v) != n:
                raise ValueError("truncated length-delimited field")
        elif wtype == 5:
            v, pos = buf[pos : pos + 4], pos + 4
            if len(v) != 4:
                raise ValueError("truncated fixed32")
        else:
            raise ValueError(f"unsupported wire type {wtype}")
        yield fnum, wtype, v


def packed_varints(v) -> list[int]:
    """A repeated varint field: packed bytes (wire 2) or one scalar."""
    if isinstance(v, int):
        return [v]
    out, pos = [], 0
    buf = as_bytes(v)
    while pos < len(buf):
        x, pos = _read_varint(buf, pos)
        out.append(x)
    return out


def as_bytes(v) -> bytes:
    """Assert a length-delimited value: varint-typed fields reaching a
    bytes/string/submessage slot are wire-type mismatches and must fail
    the payload (never bytes(int) — that ALLOCATES v zero bytes)."""
    if isinstance(v, int):
        raise ValueError("wire type mismatch: varint where bytes expected")
    return v


def as_int64(v: int) -> int:
    """proto int64 varints are two's-complement in 64 bits (NOT zigzag)."""
    return v - (1 << 64) if v >= (1 << 63) else v


# --- writer (fixtures/tests) -------------------------------------------------


def enc_varint(v: int) -> bytes:
    if v < 0:
        v += 1 << 64
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def enc_tag(fnum: int, wtype: int) -> bytes:
    return enc_varint((fnum << 3) | wtype)


def enc_ld(fnum: int, payload: bytes) -> bytes:
    """One length-delimited field (wire type 2)."""
    return enc_tag(fnum, 2) + enc_varint(len(payload)) + payload


# --- kernel ------------------------------------------------------------------


def explode_decode(
    df: DataFrame, source: str, fields: list[T.StructField],
    decode: Callable[[bytes], list[dict]],
) -> DataFrame:
    """One output row per dict ``decode(payload)`` returns: the input's
    other columns, then ``fields``. A value must already have its field's
    type (an int32 field gets an int in range, a double field a float):
    the batch is built with ``RecordBatch.from_pylist``, outside the
    per-payload guard, so a mistyped value fails the task."""
    passthrough = [f for f in df.schema.fields if f.name != source]
    names = [f.name for f in passthrough]
    decoded_schema = to_arrow_schema(T.StructType(fields))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            index: list[int] = []
            rows: list[dict] = []
            for i, payload in enumerate(batch.column(source).to_pylist()):
                if payload is None:
                    continue
                try:
                    decoded = list(decode(payload))
                except Exception:  # noqa: BLE001 — the payload is refused
                    continue
                index += [i] * len(decoded)
                rows += decoded
            kept = batch.select(names).take(pa.array(index, pa.int64()))
            out = pa.RecordBatch.from_pylist(rows, decoded_schema)
            yield pa.RecordBatch.from_arrays(
                [*kept.columns, *out.columns],
                schema=pa.schema([*kept.schema, *decoded_schema]),
            )

    return df.mapInArrow(gen, T.StructType([*passthrough, *fields]))
