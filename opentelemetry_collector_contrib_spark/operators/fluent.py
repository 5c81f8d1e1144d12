"""Fluent Forward protocol (fluentd/fluent-bit wire format) — the
``receiver/fluentforwardreceiver`` analogue over a binary payload column.

The reference terminates TCP and decodes a msgpack event stream
(`conversion.go:24-420`, `server.go:186-250`, `timeext.go`); here each row
carries one already-framed event payload (the spool-bridge pattern used
for the other network inputs) and the decode runs on the shared
``mapInArrow`` kernel (``_wire.explode_decode``) — msgpack is a
length-prefixed binary format, so like octet framing it is the honest
Python-UDF case: no regex split exists.

Mirrored semantics:
- mode detection by the SECOND array element (`server.go:192-250`):
  int/ext -> message, array -> forward, bin/str -> packedforward
- message `[tag, time, record, options?]` (`conversion.go:203-250`)
- forward `[tag, [[time, record], ...], options?]` (`conversion.go:268`)
- packedforward `[tag, blob, options?]` with concatenated msgpack
  `[time, record]` entries; `options.compressed == "gzip"` selects
  CompressedPackedForward (`conversion.go:330-420`)
- EventTime ext type 0: 4-byte seconds + 4-byte nanos (`timeext.go:28-43`)
- record keys `message`/`log` become the body; everything else is an
  attribute (`conversion.go:183-189`); binary keys/values decode as UTF-8
- the `chunk` option is surfaced for ack bookkeeping (`conversion.go:41-44`)

The decoder is a self-contained msgpack subset (nil/bool/int/uint/float/
str/bin/array/map/ext) written for this module — not a vendored library.
"""

from __future__ import annotations

import gzip
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._wire import explode_decode


class EventTime:
    __slots__ = ("ns", "sec")

    def __init__(self, sec: int, ns: int):
        self.sec, self.ns = sec, ns


# --- minimal msgpack codec (encode side used by fixtures/tests) -----------


def mp_encode(obj) -> bytes:
    if obj is None:
        return b"\xc0"
    if hasattr(obj, "item") and type(obj).__module__ == "numpy":
        obj = obj.item()  # pandas hands numpy scalars to per-column codecs
    if isinstance(obj, bool):
        return b"\xc3" if obj else b"\xc2"
    if isinstance(obj, EventTime):
        return b"\xd7\x00" + struct.pack(">II", obj.sec & 0xFFFFFFFF, obj.ns & 0xFFFFFFFF)
    if isinstance(obj, int):
        if 0 <= obj <= 0x7F:
            return struct.pack("B", obj)
        if -32 <= obj < 0:
            return struct.pack("b", obj)
        if 0 <= obj <= 0xFF:
            return b"\xcc" + struct.pack("B", obj)
        if 0 <= obj <= 0xFFFF:
            return b"\xcd" + struct.pack(">H", obj)
        if 0 <= obj <= 0xFFFFFFFF:
            return b"\xce" + struct.pack(">I", obj)
        if obj >= 0:
            return b"\xcf" + struct.pack(">Q", obj)
        if obj >= -(1 << 31):
            return b"\xd2" + struct.pack(">i", obj)
        return b"\xd3" + struct.pack(">q", obj)
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, str):
        b = obj.encode("utf-8")
        if len(b) <= 31:
            return struct.pack("B", 0xA0 | len(b)) + b
        if len(b) <= 0xFF:
            return b"\xd9" + struct.pack("B", len(b)) + b
        return b"\xda" + struct.pack(">H", len(b)) + b
    if isinstance(obj, bytes):
        if len(obj) <= 0xFF:
            return b"\xc4" + struct.pack("B", len(obj)) + obj
        return b"\xc5" + struct.pack(">H", len(obj)) + obj
    if isinstance(obj, (list, tuple)):
        if len(obj) <= 15:
            head = struct.pack("B", 0x90 | len(obj))
        else:
            head = b"\xdc" + struct.pack(">H", len(obj))
        return head + b"".join(mp_encode(x) for x in obj)
    if isinstance(obj, dict):
        if len(obj) <= 15:
            head = struct.pack("B", 0x80 | len(obj))
        else:
            head = b"\xde" + struct.pack(">H", len(obj))
        return head + b"".join(mp_encode(k) + mp_encode(v) for k, v in obj.items())
    raise TypeError(f"unencodable {type(obj)}")


def mp_decode(buf: bytes, pos: int = 0):
    """Decode one msgpack object at `pos`; returns (obj, next_pos).
    Ext type 0 decodes to EventTime (timeext.go:35-43)."""
    b = buf[pos]
    pos += 1
    if b <= 0x7F:
        return b, pos
    if b >= 0xE0:
        return b - 0x100, pos
    if 0xA0 <= b <= 0xBF:
        n = b & 0x1F
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if 0x90 <= b <= 0x9F:
        return _dec_array(buf, pos, b & 0x0F)
    if 0x80 <= b <= 0x8F:
        return _dec_map(buf, pos, b & 0x0F)
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b in (0xC4, 0xC5, 0xC6):  # bin8/16/32
        w = {0xC4: "B", 0xC5: ">H", 0xC6: ">I"}[b]
        sz = struct.calcsize(w)
        (n,) = struct.unpack_from(w, buf, pos)
        pos += sz
        return bytes(buf[pos : pos + n]), pos + n
    if b == 0xCB:
        return struct.unpack_from(">d", buf, pos)[0], pos + 8
    if b == 0xCA:
        return struct.unpack_from(">f", buf, pos)[0], pos + 4
    if b in (0xCC, 0xCD, 0xCE, 0xCF):
        w = {0xCC: "B", 0xCD: ">H", 0xCE: ">I", 0xCF: ">Q"}[b]
        return struct.unpack_from(w, buf, pos)[0], pos + struct.calcsize(w)
    if b in (0xD0, 0xD1, 0xD2, 0xD3):
        w = {0xD0: "b", 0xD1: ">h", 0xD2: ">i", 0xD3: ">q"}[b]
        return struct.unpack_from(w, buf, pos)[0], pos + struct.calcsize(w)
    if b in (0xD9, 0xDA, 0xDB):
        w = {0xD9: "B", 0xDA: ">H", 0xDB: ">I"}[b]
        sz = struct.calcsize(w)
        (n,) = struct.unpack_from(w, buf, pos)
        pos += sz
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if b in (0xDC, 0xDD):
        w = {0xDC: ">H", 0xDD: ">I"}[b]
        (n,) = struct.unpack_from(w, buf, pos)
        return _dec_array(buf, pos + struct.calcsize(w), n)
    if b in (0xDE, 0xDF):
        w = {0xDE: ">H", 0xDF: ">I"}[b]
        (n,) = struct.unpack_from(w, buf, pos)
        return _dec_map(buf, pos + struct.calcsize(w), n)
    if b == 0xD7:  # fixext8
        etype = struct.unpack_from("b", buf, pos)[0]
        pos += 1
        data = buf[pos : pos + 8]
        pos += 8
        return _ext(etype, data), pos
    if b in (0xC7, 0xC8):  # ext8/16
        w = {0xC7: "B", 0xC8: ">H"}[b]
        sz = struct.calcsize(w)
        (n,) = struct.unpack_from(w, buf, pos)
        pos += sz
        etype = struct.unpack_from("b", buf, pos)[0]
        pos += 1
        data = buf[pos : pos + n]
        return _ext(etype, data), pos + n
    raise ValueError(f"unsupported msgpack byte 0x{b:02x}")


def _ext(etype: int, data: bytes):
    if etype == 0 and len(data) == 8:
        sec, ns = struct.unpack(">II", data)
        return EventTime(sec, ns)
    return data


def _dec_array(buf, pos, n):
    out = []
    for _ in range(n):
        v, pos = mp_decode(buf, pos)
        out.append(v)
    return out, pos


def _dec_map(buf, pos, n):
    out = {}
    for _ in range(n):
        k, pos = mp_decode(buf, pos)
        if isinstance(k, bytes):  # binary map keys happen (conversion.go:171-176)
            k = k.decode("utf-8", errors="replace")
        v, pos = mp_decode(buf, pos)
        out[k] = v
    return out, pos


# --- event-level parse -----------------------------------------------------


def _ts_us(t) -> int | None:
    """timeFromTimestamp (conversion.go:135-146): int/uint seconds or
    EventTime ext."""
    if isinstance(t, EventTime):
        return t.sec * 1_000_000 + t.ns // 1000
    if isinstance(t, int) and not isinstance(t, bool):
        return t * 1_000_000
    return None


def _render(v) -> str:
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, EventTime):
        return f"{v.sec}.{v.ns:09d}"
    return str(v)


def _record_rows(tag: str, mode: str, chunk, time_obj, record: dict):
    if not isinstance(record, dict):
        raise ValueError("record is not a map")
    body = None
    attrs = []
    for k, v in record.items():
        if k in ("message", "log"):  # fluentd uses message, fluentbit log
            body = _render(v)
        else:
            attrs.append(f"{k}={_render(v)}")
    return {
        "ff_mode": mode,
        "ff_tag": tag,
        "ff_ts_us": _ts_us(time_obj),
        "ff_body": body,
        "ff_attrs_csv": ",".join(sorted(attrs)) if attrs else None,
        "ff_chunk": chunk,
    }


def decode_event(payload: bytes) -> list[dict]:
    """One framed Forward-protocol event -> log-record dicts. Mode follows
    the second array element exactly as determineNextEventMode does."""
    evt, _ = mp_decode(payload, 0)
    if not isinstance(evt, list) or not 2 <= len(evt) <= 4 or not isinstance(evt[0], str):
        raise ValueError("malformed event")
    tag, second = evt[0], evt[1]
    if isinstance(second, bool):
        # bool is an int subclass in Python, but the protocol's mode
        # detection (server.go:244-249) has no bool branch: malformed
        raise ValueError("could not determine event mode")
    # options live at index 3 for message mode, index 2 otherwise
    opt_idx = 3 if isinstance(second, (int, EventTime)) else 2
    options = evt[opt_idx] if len(evt) > opt_idx and isinstance(evt[opt_idx], dict) else {}
    chunk = options.get("chunk") if isinstance(options.get("chunk"), str) else None
    if isinstance(second, (int, EventTime)):
        if len(evt) < 3:
            raise ValueError("message event needs a record")
        return [_record_rows(tag, "message", chunk, second, evt[2])]
    if isinstance(second, list):
        return [
            _record_rows(tag, "forward", chunk, e[0], e[1])
            for e in second
            if isinstance(e, list) and len(e) == 2
        ]
    if isinstance(second, (bytes, str)):
        blob = second.encode("utf-8") if isinstance(second, str) else second
        if options.get("compressed") == "gzip":
            blob = gzip.decompress(blob)
        out, pos = [], 0
        while pos < len(blob):
            entry, pos = mp_decode(blob, pos)
            if isinstance(entry, list) and len(entry) == 2:
                out.append(_record_rows(tag, "packedforward", chunk, entry[0], entry[1]))
        return out
    raise ValueError("could not determine event mode")


_FF_FIELDS = [
    T.StructField("ff_mode", T.StringType()),
    T.StructField("ff_tag", T.StringType()),
    T.StructField("ff_ts_us", T.LongType()),
    T.StructField("ff_body", T.StringType()),
    T.StructField("ff_attrs_csv", T.StringType()),
    T.StructField("ff_chunk", T.StringType()),
]


def parse_fluent_forward(df: DataFrame, source: str = "payload") -> DataFrame:
    """One row per decoded log record (message events yield 1, forward and
    packedforward yield one per entry). Malformed payloads drop — the
    reference closes the connection on a decode error; over a table the
    analogous contract is dropping the event. Runs on the shared
    mapInArrow kernel: one Python invocation per partition, decode loop
    per event."""
    return explode_decode(df, source, _FF_FIELDS, decode_event)


def synthesize_fluent_payloads(
    df: DataFrame, id_col: str = "event_id", cols: dict | None = None
) -> DataFrame:
    """Deterministic per-row Forward-protocol payloads for fixtures: id%3
    picks the mode (0 message with int time, 1 forward with two EventTime
    entries, 2 packedforward with two entries and a chunk option; every
    6th packedforward gzip-compressed). `cols` maps record keys to input
    column names rendered into the records."""
    cols = cols or {}
    keys = sorted(cols)
    in_cols = [id_col, *[cols[k] for k in keys]]

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, *vals: pd.Series) -> pd.Series:
        out = []
        for j, i in enumerate(ids):
            i = int(i)
            rec = {"message": f"m{i}"}
            for k, s in zip(keys, vals):
                rec[k] = s.iloc[j] if not isinstance(s.iloc[j], (int, float)) else int(s.iloc[j])
            sec = 1_700_000_000 + i % 86400
            mode = i % 3
            if mode == 0:
                evt = ["svc.msg", sec, rec]
            elif mode == 1:
                t = EventTime(sec, (i % 1000) * 1_000_000)
                evt = ["svc.fwd", [[t, rec], [t, {**rec, "seq": 2}]]]
            else:
                blob = mp_encode([sec, rec]) + mp_encode([EventTime(sec, 250_000_000), rec])
                opts = {"chunk": f"c{i}"}
                if i % 6 == 0:
                    blob = gzip.compress(blob, mtime=0)
                    opts["compressed"] = "gzip"
                evt = ["svc.packed", blob, opts]
            out.append(mp_encode(evt))
        return pd.Series(out)

    return df.withColumn("payload", gen(*[F.col(c) for c in in_cols]))
