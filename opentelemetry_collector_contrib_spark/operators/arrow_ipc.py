"""Arrow IPC stream batch framing — the otelarrow wire kernel.

The reference's otelarrowreceiver/otelarrowexporter move telemetry as
Arrow record batches over gRPC (OTAP: `receiver/otelarrowreceiver`,
`exporter/otelarrowexporter` — BatchArrowRecords holding IPC-serialized
payloads). The transport/dictionary-delta machinery is connection state
and out of scope in-sandbox (same stance as the kafka broker contract);
the data kernel — pack row groups into Arrow IPC stream payloads and
unpack them back, losslessly — IS in scope: the rows already cross the
JVM↔Python boundary as Arrow batches, so encode/decode is a reframe of
those batches, not a codec, and no value goes through pandas.

Scale design: encode runs on the grouped kernel (`_groups.py`), one IPC
payload per distinct key (NULL keys included) sliced straight out of the
Arrow batch; payload size is bounded by the caller's key granularity.
Decode runs on the shared row-exploding kernel (`_wire.explode_decode`).
Both stream through Arrow buffers; nothing collects."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ._groups import bounds, group_kernel
from ._wire import explode_decode


def encode_arrow_ipc(
    df: DataFrame,
    key_cols: list[str],
    sort_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """One output row per distinct key: (key_cols..., aip_rows, payload) —
    payload is the Arrow IPC STREAM serialization of the group's
    payload_cols, rows ordered by sort_cols (deterministic bytes given a
    deterministic sort key)."""
    out_schema = df.select(*key_cols).schema.add("aip_rows", T.LongType()).add("payload", T.BinaryType())
    cols = [*key_cols, *sort_cols, *[c for c in payload_cols if c not in key_cols and c not in sort_cols]]

    def enc(batch: pa.RecordBatch, starts: list[int]) -> pa.RecordBatch:
        sizes, payloads = [], []
        for lo, hi in bounds(starts, batch.num_rows):
            part = batch.slice(lo, hi - lo).select(payload_cols)
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, part.schema) as w:
                w.write_batch(part)
            sizes.append(hi - lo)
            payloads.append(sink.getvalue().to_pybytes())
        heads = batch.select(key_cols).take(pa.array(starts, pa.int64()))
        return pa.RecordBatch.from_arrays(
            [*heads.columns, pa.array(sizes, pa.int64()), pa.array(payloads, pa.binary())],
            names=[*key_cols, "aip_rows", "payload"],
        )

    return group_kernel(df.select(*dict.fromkeys(cols)), key_cols, sort_cols, out_schema, enc)


def decode_arrow_ipc(
    df: DataFrame,
    schema: str,
    source: str = "payload",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Unpack each Arrow IPC stream payload back to rows. `schema` is the
    DDL of the encoded columns (wire contracts are declared, not sniffed —
    a corrupt payload must not be able to rewrite the plan's types);
    payloads whose column names disagree, whose columns do not cast to the
    declared types, or that do not parse, are dropped (on_error=send
    semantics)."""
    decl = T._parse_datatype_string(schema)
    target = to_arrow_schema(decl)

    def decode(payload: bytes) -> list[dict]:
        with pa.ipc.open_stream(payload) as r:
            table = r.read_all()
        if sorted(table.schema.names) != sorted(target.names):
            raise ValueError(f"payload columns {table.schema.names} are not {target.names}")
        return table.select(target.names).cast(target).to_pylist()

    return explode_decode(df.select(*(passthrough or []), source), source, decl.fields, decode)
