"""pprof profile.proto decode — the profiles signal (pprofreceiver +
pkg/translator/pprof).

The reference's pprofreceiver ingests serialized `profile.proto` payloads
(glob files / HTTP push, gzip-transparent — `receiver/pprofreceiver/README.md`)
and `pkg/translator/pprof/pprof_to_profiles.go` normalizes them into pdata
profiles: per-sample rows with resolved stacks (location -> line ->
function -> string table) and typed labels. This module is the analytics
flattening of the same wire format: **one output row per (sample,
sample_type)** with the resolved leaf-first stack, string/numeric labels,
and the profile envelope (period, time/duration). The proto-wire walk
shares `_wire.py`'s reader; gzip'd payloads (the `runtime/pprof` on-disk
form) are inflated with the bounded 64 MiB bomb guard.

Wire schema (google/pprof profile.proto): Profile{sample_type=1,
sample=2, mapping=3, location=4, function=5, string_table=6,
time_nanos=9, duration_nanos=10, period_type=11, period=12,
default_sample_type=14}; Sample{location_id=1 packed, value=2 packed,
label=3}; Label{key=1, str=2, num=3, num_unit=4}; Location{id=1,
mapping_id=2, address=3, line=4}; Line{function_id=1, line=2};
Function{id=1, name=2, system_name=3, filename=4, start_line=5}.
All name-ish fields are string-table indices; index 0 is "".

Scale shape: the shared mapInArrow kernel `_wire.explode_decode` (binary
wire decode is the honest Python-UDF case, same stance as
otlp_pb/jaeger_pb/fluent); the payload
spool partitions like any parquet scan, so decode parallelism tracks
splits. Malformed payloads drop per-row (on_error=send analogue), never
fail the task.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
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

_MAX_INFLATE = 64 * 1024 * 1024


def _maybe_gunzip(payload: bytes) -> bytes:
    if payload[:2] != b"\x1f\x8b":
        return payload
    with gzip.GzipFile(fileobj=io.BytesIO(payload)) as f:
        out = f.read(_MAX_INFLATE + 1)
    if len(out) > _MAX_INFLATE:
        raise ValueError("gzip payload inflates past the 64 MiB guard")
    return out


def _value_type(buf: bytes) -> tuple[int, int]:
    ty = unit = 0
    for fnum, _, v in iter_fields(buf):
        if fnum == 1:
            ty = v
        elif fnum == 2:
            unit = v
    return ty, unit


def _label(buf: bytes) -> dict:
    out = {"key": 0, "str": 0, "num": 0, "num_unit": 0}
    for fnum, _, v in iter_fields(buf):
        if fnum == 1:
            out["key"] = v
        elif fnum == 2:
            out["str"] = v
        elif fnum == 3:
            out["num"] = as_int64(v)
        elif fnum == 4:
            out["num_unit"] = v
    return out


def decode_pprof_profile(payload: bytes) -> list[dict]:
    """profile.proto bytes (optionally gzip'd) -> one dict per
    (sample, sample_type) with the stack resolved leaf-first
    (sample.location_id[0] is the leaf; location.line[0] the innermost
    inline frame — google/pprof conventions, mirrored by
    pprof_to_profiles.go's stack building)."""
    buf = _maybe_gunzip(bytes(payload))
    strtab: list[str] = []
    sample_types: list[tuple[int, int]] = []
    samples: list[dict] = []
    locations: dict[int, dict] = {}
    functions: dict[int, dict] = {}
    time_nanos = duration_nanos = period = 0
    period_type = (0, 0)
    default_st = 0

    for fnum, _, v in iter_fields(buf):
        if fnum == 6:
            strtab.append(as_bytes(v).decode("utf-8", errors="replace"))
        elif fnum == 1:
            sample_types.append(_value_type(as_bytes(v)))
        elif fnum == 2:
            s = {"loc_ids": [], "values": [], "labels": []}
            for f2, _, v2 in iter_fields(as_bytes(v)):
                if f2 == 1:
                    s["loc_ids"].extend(packed_varints(v2))
                elif f2 == 2:
                    s["values"].extend(
                        as_int64(x) for x in packed_varints(v2)
                    )
                elif f2 == 3:
                    s["labels"].append(_label(as_bytes(v2)))
            samples.append(s)
        elif fnum == 4:
            loc = {"id": 0, "lines": []}
            for f2, _, v2 in iter_fields(as_bytes(v)):
                if f2 == 1:
                    loc["id"] = v2
                elif f2 == 4:
                    fn_id = line_no = 0
                    for f3, _, v3 in iter_fields(as_bytes(v2)):
                        if f3 == 1:
                            fn_id = v3
                        elif f3 == 2:
                            line_no = as_int64(v3)
                    loc["lines"].append((fn_id, line_no))
            locations[loc["id"]] = loc
        elif fnum == 5:
            fn = {"id": 0, "name": 0, "filename": 0}
            for f2, _, v2 in iter_fields(as_bytes(v)):
                if f2 == 1:
                    fn["id"] = v2
                elif f2 == 2:
                    fn["name"] = v2
                elif f2 == 4:
                    fn["filename"] = v2
            functions[fn["id"]] = fn
        elif fnum == 9:
            time_nanos = as_int64(v)
        elif fnum == 10:
            duration_nanos = as_int64(v)
        elif fnum == 11:
            period_type = _value_type(as_bytes(v))
        elif fnum == 12:
            period = as_int64(v)
        elif fnum == 14:
            default_st = v

    def st(idx: int) -> str:
        if not 0 <= idx < len(strtab):
            raise ValueError(f"string table index out of range: {idx}")
        return strtab[idx]

    def frames(loc_ids: list[int]) -> str:
        out = []
        for lid in loc_ids:
            loc = locations.get(lid)
            if loc is None:
                raise ValueError(f"unknown location id {lid}")
            if not loc["lines"]:
                out.append(f"0x{lid:x}")  # address-only frame, unsymbolized
                continue
            for fn_id, _line in loc["lines"]:
                fn = functions.get(fn_id)
                if fn is None:
                    raise ValueError(f"unknown function id {fn_id}")
                out.append(st(fn["name"]))
        return ";".join(out)

    rows: list[dict] = []
    for si, s in enumerate(samples):
        if len(s["values"]) != len(sample_types):
            raise ValueError("sample value count != sample_type count")
        stack = frames(s["loc_ids"])
        str_labels = sorted(
            (st(la["key"]), st(la["str"])) for la in s["labels"] if la["str"]
        )
        num_labels = sorted(
            (st(la["key"]), la["num"], st(la["num_unit"]) if la["num_unit"] else "")
            for la in s["labels"]
            if not la["str"]
        )
        labels_csv = ",".join(f"{k}={v}" for k, v in str_labels) or None
        num_csv = (
            ",".join(f"{k}={n}{(':' + u) if u else ''}" for k, n, u in num_labels)
            or None
        )
        for ti, (ty, unit) in enumerate(sample_types):
            rows.append(
                {
                    "sample_idx": si,
                    "sample_type": st(ty),
                    "sample_unit": st(unit),
                    "value": s["values"][ti],
                    "stack": stack,
                    "labels_csv": labels_csv,
                    "num_labels_csv": num_csv,
                    "time_nanos": time_nanos,
                    "duration_nanos": duration_nanos,
                    "period_type": st(period_type[0]) if period_type != (0, 0) else None,
                    "period": period,
                    "default_sample_type": st(default_st) if default_st else None,
                }
            )
    return rows


_PPROF_FIELDS = [
    T.StructField("sample_idx", T.IntegerType()),
    T.StructField("sample_type", T.StringType()),
    T.StructField("sample_unit", T.StringType()),
    T.StructField("value", T.LongType()),
    T.StructField("stack", T.StringType()),
    T.StructField("labels_csv", T.StringType()),
    T.StructField("num_labels_csv", T.StringType()),
    T.StructField("time_nanos", T.LongType()),
    T.StructField("duration_nanos", T.LongType()),
    T.StructField("period_type", T.StringType()),
    T.StructField("period", T.LongType()),
    T.StructField("default_sample_type", T.StringType()),
]


def parse_pprof_profiles(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per (sample, sample_type) per pprof payload."""
    return explode_decode(df, source, _PPROF_FIELDS, decode_pprof_profile)


def flame_rollup(
    df: DataFrame,
    group_cols: list[str] | None = None,
    stack_col: str = "stack",
    value_col: str = "value",
) -> DataFrame:
    """Flame-graph rollup over decoded samples: per function,
    **inclusive** = sum of values of every sample whose stack contains it
    (counted once per sample even for recursive frames — array_distinct
    before the explode, matching how pprof's `-top` cum column treats
    recursion), **exclusive/flat** = sum of values of samples where it is
    the leaf (stack position 0). This is the `pprof -top` table as one
    explode + one hash aggregation — scan-speed at any corpus size; the
    only exchange is the final groupBy on (group_cols, func).
    """
    from pyspark.sql import functions as F

    group_cols = group_cols or []
    frames = F.split(F.col(stack_col), ";")
    rows = df.select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.element_at(frames, 1).alias("_leaf"),
        F.explode(F.array_distinct(frames)).alias("func"),
    )
    return (
        rows.groupBy(*group_cols, "func")
        .agg(
            F.sum("_v").alias("inclusive"),
            F.sum(F.when(F.col("func") == F.col("_leaf"), F.col("_v")).otherwise(F.lit(0))).alias(
                "exclusive"
            ),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


# --- encoder (fixtures/tests; also the round-trip oracle's ground truth) ---


class _StrTab:
    def __init__(self) -> None:
        self._idx: dict[str, int] = {"": 0}
        self.table: list[str] = [""]

    def __call__(self, s: str) -> int:
        if s not in self._idx:
            self._idx[s] = len(self.table)
            self.table.append(s)
        return self._idx[s]


def _enc_value_type(tab: _StrTab, ty: str, unit: str) -> bytes:
    return enc_tag(1, 0) + enc_varint(tab(ty)) + enc_tag(2, 0) + enc_varint(tab(unit))


def enc_pprof_profile(
    sample_types: list[tuple[str, str]],
    samples: list[dict],
    *,
    time_nanos: int = 0,
    duration_nanos: int = 0,
    period_type: tuple[str, str] | None = None,
    period: int = 0,
    gzipped: bool = False,
) -> bytes:
    """Build a profile.proto payload. Each sample dict: {"stack":
    [(fn_name, file_name, line), ...] leaf-first, "values": [...],
    "labels": {k: str_v}, "num_labels": {k: (num, unit)}}. One location
    per frame, one line per location; string/function/location tables
    deduplicated exactly like the writer in google/pprof."""
    tab = _StrTab()
    fn_ids: dict[tuple[int, int], int] = {}
    loc_ids: dict[int, int] = {}
    fn_msgs: list[bytes] = []
    loc_msgs: list[bytes] = []

    def fn_id(name: str, filename: str) -> int:
        key = (tab(name), tab(filename))
        if key not in fn_ids:
            fid = len(fn_ids) + 1
            fn_ids[key] = fid
            fn_msgs.append(
                enc_tag(1, 0) + enc_varint(fid)
                + enc_tag(2, 0) + enc_varint(key[0])
                + enc_tag(4, 0) + enc_varint(key[1])
            )
        return fn_ids[key]

    def loc_id(name: str, filename: str, line: int) -> int:
        fid = fn_id(name, filename)
        key = (fid, line)
        if key not in loc_ids:
            lid = len(loc_ids) + 1
            loc_ids[key] = lid
            line_msg = enc_tag(1, 0) + enc_varint(fid) + enc_tag(2, 0) + enc_varint(line)
            loc_msgs.append(
                enc_tag(1, 0) + enc_varint(lid) + enc_ld(4, line_msg)
            )
        return loc_ids[key]

    sample_msgs: list[bytes] = []
    for s in samples:
        lids = [loc_id(n, f, ln) for n, f, ln in s["stack"]]
        packed_locs = b"".join(enc_varint(x) for x in lids)
        packed_vals = b"".join(enc_varint(v) for v in s["values"])
        msg = enc_ld(1, packed_locs) + enc_ld(2, packed_vals)
        for k, v in sorted(s.get("labels", {}).items()):
            msg += enc_ld(3, enc_tag(1, 0) + enc_varint(tab(k)) + enc_tag(2, 0) + enc_varint(tab(v)))
        for k, (num, unit) in sorted(s.get("num_labels", {}).items()):
            lab = enc_tag(1, 0) + enc_varint(tab(k)) + enc_tag(3, 0) + enc_varint(num)
            if unit:
                lab += enc_tag(4, 0) + enc_varint(tab(unit))
            msg += enc_ld(3, lab)
        sample_msgs.append(msg)

    out = b"".join(enc_ld(1, _enc_value_type(tab, ty, un)) for ty, un in sample_types)
    out += b"".join(enc_ld(2, m) for m in sample_msgs)
    out += b"".join(enc_ld(4, m) for m in loc_msgs)
    out += b"".join(enc_ld(5, m) for m in fn_msgs)
    out += b"".join(enc_ld(6, s.encode()) for s in tab.table)
    if time_nanos:
        out += enc_tag(9, 0) + enc_varint(time_nanos)
    if duration_nanos:
        out += enc_tag(10, 0) + enc_varint(duration_nanos)
    if period_type is not None:
        out += enc_ld(11, _enc_value_type(tab, *period_type))
    if period:
        out += enc_tag(12, 0) + enc_varint(period)
    if gzipped:
        return gzip.compress(out, compresslevel=1, mtime=0)
    return out


def synthesize_pprof(df: DataFrame) -> DataFrame:
    """Deterministic pprof payloads from (event_id, user_id, ts_us, value)
    rows: 2 sample types (cpu/nanoseconds, samples/count), 1 + event_id%2
    samples with 2-frame stacks over a small function universe, one string
    and one numeric label; even event_ids gzip'd (the runtime/pprof
    on-disk form)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for rec in pdf.to_dict("records"):
                eid, uid = int(rec["event_id"]), int(rec["user_id"])
                samples = [
                    {
                        "stack": [
                            (f"func_{(eid + s) % 5}", "app.go", 10 + (eid + s) % 7),
                            (f"main_{uid % 3}", "main.go", 3),
                        ],
                        "values": [eid * 100 + s, s + 1],
                        "labels": {"thread": f"t{uid % 4}"},
                        "num_labels": {"alloc": (eid % 1000, "bytes")},
                    }
                    for s in range(1 + eid % 2)
                ]
                payloads.append(
                    enc_pprof_profile(
                        [("cpu", "nanoseconds"), ("samples", "count")],
                        samples,
                        time_nanos=int(rec["ts_us"]) * 1000,
                        duration_nanos=10_000_000_000,
                        period_type=("cpu", "nanoseconds"),
                        period=10_000_000,
                        gzipped=eid % 2 == 0,
                    )
                )
            yield pd.DataFrame(
                {"event_id": pdf["event_id"], "payload": payloads}
            )

    return df.mapInPandas(gen, "event_id long, payload binary")
