"""Prometheus remote-write 2.0 decode (prometheusremotewritereceiver).

PRW 2.0 (`io.prometheus.write.v2.Request`) replaces v1's inline label
strings with one request-wide **symbol table**: `Request{symbols=4,
timeseries=5}` (fields 1-3 reserved), `TimeSeries{labels_refs=1 packed
uint32 pairs (name-ref, value-ref), samples=2, histograms=3, exemplars=4,
metadata=5, created_timestamp=6}`, `Sample{value=1 fixed64 double,
timestamp=2 int64 ms}`, `Metadata{type=1, help_ref=3, unit_ref=4}`.

The reference receiver (`receiver/prometheusremotewritereceiver/
receiver.go:319-430` translateV2) resolves labels through the symbol
table with bounds checks, requires `__name__`, rejects duplicate label
names, reads unit/help via metadata refs, and treats the special
`target_info` series as RESOURCE attributes for every series sharing its
(job, instance) identity — the Prometheus↔OTel resource-attribute bridge.
Per-series errors skip that series and keep the request (badRequestErrors
continue), mirrored here; structural wire errors drop the payload.

`prw2_apply_target_info` realizes the resource bridge relationally: the
target_info rows are a tiny per-(job, instance) dimension broadcast-joined
onto the data rows — the exact shape of the receiver's rmCache, with no
ordering dependence.
"""

from __future__ import annotations

import struct

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

# Metadata.MetricType (mirrors prompb v1 MetricMetadata numbering)
METRIC_TYPES = {
    0: "unspecified", 1: "counter", 2: "gauge", 3: "histogram",
    4: "gaugehistogram", 5: "summary", 6: "info", 7: "stateset",
}


def decode_remote_write_v2(payload: bytes) -> list[dict]:
    """One row per sample; labels resolved through the symbol table.
    Per-series validation failures (ref out of bounds, missing __name__,
    duplicate label names, odd labels_refs) skip the series, like the
    receiver's badRequestErrors path."""
    symbols: list[str] = []
    series: list[dict] = []
    for f1, _, v in iter_fields(bytes(payload)):
        if f1 == 4:
            symbols.append(as_bytes(v).decode("utf-8", errors="replace"))
        elif f1 == 5:
            s = {"refs": [], "samples": [], "type": 0, "help_ref": 0, "unit_ref": 0, "created": 0}
            for f2, _, v2 in iter_fields(as_bytes(v)):
                if f2 == 1:
                    s["refs"].extend(packed_varints(v2))
                elif f2 == 2:
                    val = ts = None
                    for f3, _, v3 in iter_fields(as_bytes(v2)):
                        if f3 == 1:
                            val = struct.unpack("<d", as_bytes(v3))[0]
                        elif f3 == 2:
                            ts = as_int64(int(v3))
                    s["samples"].append((ts, val))
                elif f2 == 5:
                    for f3, _, v3 in iter_fields(as_bytes(v2)):
                        if f3 == 1:
                            s["type"] = int(v3)
                        elif f3 == 3:
                            s["help_ref"] = int(v3)
                        elif f3 == 4:
                            s["unit_ref"] = int(v3)
                elif f2 == 6:
                    s["created"] = as_int64(int(v2))
            series.append(s)

    n = len(symbols)
    rows: list[dict] = []
    for s in series:
        refs = s["refs"]
        if len(refs) % 2 or any(r >= n for r in refs):
            continue  # labels_refs must be name/value pairs within the table
        labels = [(symbols[refs[i]], symbols[refs[i + 1]]) for i in range(0, len(refs), 2)]
        names = [k for k, _ in labels]
        if len(set(names)) != len(names):
            continue  # duplicate label names (receiver.go:356-359)
        lab = dict(labels)
        mname = lab.pop("__name__", "")
        if not mname:
            continue  # missing metric name (receiver.go:352-354)
        if s["unit_ref"] >= n or s["help_ref"] >= n:
            continue  # metadata ref out of bounds (receiver.go:385-394)
        job = lab.pop("job", None)
        instance = lab.pop("instance", None)
        rest = ",".join(f"{k}={v}" for k, v in sorted(lab.items())) or None
        for ts, val in s["samples"]:
            rows.append(
                {
                    "prw_name": mname,
                    "prw_job": job,
                    "prw_instance": instance,
                    "prw_labels_csv": rest,
                    "prw_unit": symbols[s["unit_ref"]] or None,
                    "prw_help": symbols[s["help_ref"]] or None,
                    "prw_type": METRIC_TYPES.get(s["type"], "unspecified"),
                    "prw_ts_ms": ts,
                    "prw_value": val,
                }
            )
    return rows


_PRW2_FIELDS = [
    T.StructField("prw_name", T.StringType()),
    T.StructField("prw_job", T.StringType()),
    T.StructField("prw_instance", T.StringType()),
    T.StructField("prw_labels_csv", T.StringType()),
    T.StructField("prw_unit", T.StringType()),
    T.StructField("prw_help", T.StringType()),
    T.StructField("prw_type", T.StringType()),
    T.StructField("prw_ts_ms", T.LongType()),
    T.StructField("prw_value", T.DoubleType()),
]


def parse_remote_write_v2(df: DataFrame, source: str = "payload") -> DataFrame:
    return explode_decode(df, source, _PRW2_FIELDS, decode_remote_write_v2)


def prw2_apply_target_info(df: DataFrame) -> DataFrame:
    """The target_info resource bridge (receiver.go:361-381): labels of the
    `target_info` series (minus job/instance) become resource attributes of
    every series sharing that (job, instance). target_info rows are
    consumed, not emitted as metrics. Broadcast left join — the dimension
    is one row per scrape target."""
    ti = (
        df.filter(F.col("prw_name") == "target_info")
        .groupBy("prw_job", "prw_instance")
        .agg(F.first("prw_labels_csv", ignorenulls=True).alias("resource_csv"))
    )
    data = df.filter(F.col("prw_name") != "target_info")
    return data.join(F.broadcast(ti), ["prw_job", "prw_instance"], "left")


# --- encoder (fixtures/tests) ----------------------------------------------


def enc_remote_write_v2(
    series: list[dict],
) -> bytes:
    """series item: {"labels": {..incl __name__, job, instance},
    "samples": [(ts_ms, value)], "type": int, "unit": str, "help": str}.
    Builds the deduplicated symbol table exactly like the Prometheus
    writer (symbol 0 is the empty string)."""
    symtab: dict[str, int] = {"": 0}
    table: list[str] = [""]

    def sym(s: str) -> int:
        if s not in symtab:
            symtab[s] = len(table)
            table.append(s)
        return symtab[s]

    ts_msgs = []
    for s in series:
        labels = s["labels"]
        pairs = list(labels.items()) if isinstance(labels, dict) else list(labels)
        refs: list[int] = []
        for k, v in pairs:
            refs.append(sym(k))
            refs.append(sym(v))
        msg = enc_ld(1, b"".join(enc_varint(r) for r in refs))
        for ts, val in s["samples"]:
            msg += enc_ld(2, enc_tag(1, 1) + struct.pack("<d", val) + enc_tag(2, 0) + enc_varint(ts & ((1 << 64) - 1)))
        meta = enc_tag(1, 0) + enc_varint(int(s.get("type", 0)))
        meta += enc_tag(3, 0) + enc_varint(sym(s.get("help", "")))
        meta += enc_tag(4, 0) + enc_varint(sym(s.get("unit", "")))
        msg += enc_ld(5, meta)
        ts_msgs.append(msg)

    out = b"".join(enc_ld(4, t.encode()) for t in table)
    out += b"".join(enc_ld(5, m) for m in ts_msgs)
    return out


def synthesize_prw2(df: DataFrame) -> DataFrame:
    """Deterministic PRW 2.0 payloads from (event_id, user_id, ts_ms,
    value) rows: a target_info series + one counter series per request;
    every 9th request also carries a duplicate-label series and every 11th
    a nameless series — both must be skipped by the decoder."""
    from collections.abc import Iterator

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for rec in pdf.to_dict("records"):
                eid, uid = int(rec["event_id"]), int(rec["user_id"])
                ts_ms = int(rec["ts_ms"])
                inst = f"host-{uid % 5}"
                # resource label derives from the INSTANCE so every request
                # that mentions host-N agrees on its target_info (the
                # receiver's rmCache assumes per-target consistency)
                series = [
                    {
                        "labels": {
                            "__name__": "target_info", "job": "svc",
                            "instance": inst, "k8s_cluster": f"c{(uid % 5) % 3}",
                        },
                        "samples": [(ts_ms, 1.0)],
                        "type": 6,
                    },
                    {
                        "labels": {
                            "__name__": "http_requests_total", "job": "svc",
                            "instance": inst, "path": f"/p{eid % 4}",
                        },
                        "samples": [(ts_ms, float(eid % 100))],
                        "type": 1, "unit": "1", "help": "requests",
                    },
                ]
                if eid % 9 == 0:
                    series.append(
                        {
                            "labels": [("__name__", "dup"), ("a", "1"), ("a", "2")],
                            "samples": [(ts_ms, 5.0)],
                        }
                    )
                if eid % 11 == 0:
                    series.append(
                        {"labels": {"job": "svc"}, "samples": [(ts_ms, 6.0)]}
                    )
                payloads.append(enc_remote_write_v2(series))
            yield pd.DataFrame({"event_id": pdf["event_id"], "payload": payloads})

    return df.mapInPandas(gen, "event_id long, payload binary")
