"""Fluent Forward protocol decode (operators/fluent.py) — event-mode
detection by second array element (server.go:186-250), the three carrier
modes (conversion.go:203-420), EventTime ext (timeext.go), body-key rules
and binary map keys (conversion.go:165-189)."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.fluent import (
    EventTime,
    decode_event,
    mp_decode,
    mp_encode,
    parse_fluent_forward,
    synthesize_fluent_payloads,
)


def test_codec_roundtrip_types():
    vals = [None, True, False, 0, 127, -32, 255, 65535, 1 << 40, -3, -(1 << 20),
            3.5, "s", "x" * 40, b"\x00\x01", [1, "a"], {"k": [1, 2]}]
    for v in vals:
        got, pos = mp_decode(mp_encode(v))
        assert got == v and pos == len(mp_encode(v))
    t, _ = mp_decode(mp_encode(EventTime(7, 250_000_000)))
    assert (t.sec, t.ns) == (7, 250_000_000)


def test_message_mode_with_options_chunk():
    # [tag, time, record, options] — 4-element message event: the record
    # must NOT be mistaken for the options map
    evt = ["t", 100, {"log": "b", "k": 1}, {"chunk": "abc=="}]
    rows = decode_event(mp_encode(evt))
    assert rows == [
        {"ff_mode": "message", "ff_tag": "t", "ff_ts_us": 100_000_000,
         "ff_body": "b", "ff_attrs_csv": "k=1", "ff_chunk": "abc=="}
    ]
    # without options, chunk is None
    assert decode_event(mp_encode(["t", 100, {"log": "b"}]))[0]["ff_chunk"] is None


def test_forward_mode_eventtime_and_binary_keys():
    t = EventTime(1_600_000_000, 999_999_999)
    entries = [[t, {b"message": b"bytes-body", "a": False}]]
    rows = decode_event(mp_encode(["fw", entries]))
    assert rows[0]["ff_ts_us"] == 1_600_000_000_999_999  # ns floor to us
    assert rows[0]["ff_body"] == "bytes-body"  # binary key + value decode
    assert rows[0]["ff_attrs_csv"] == "a=false"


def test_packedforward_str_blob_and_gzip():
    blob = mp_encode([1, {"message": "p1"}]) + mp_encode([2, {"message": "p2"}])
    gz = gzip.compress(blob, mtime=0)
    rows = decode_event(mp_encode(["t", gz, {"compressed": "gzip", "chunk": "c1"}]))
    assert [r["ff_body"] for r in rows] == ["p1", "p2"]
    assert all(r["ff_mode"] == "packedforward" and r["ff_chunk"] == "c1" for r in rows)


def test_spark_parse_drops_malformed_and_explodes(spark):
    good = mp_encode(["t", [[1, {"log": "a"}], [2, {"log": "b"}]]])
    bad = b"\xc1\x00\x00"  # 0xc1 is the never-used msgpack byte
    df = spark.createDataFrame([(1, bytearray(good)), (2, bytearray(bad)), (3, None)],
                               "id int, payload binary")
    rows = parse_fluent_forward(df, "payload").collect()
    assert [(r["id"], r["ff_body"]) for r in sorted(rows, key=lambda r: r["ff_body"])] == [
        (1, "a"), (1, "b")
    ]


def test_synthesize_matches_decode_modes(spark):
    df = spark.range(9).select(F.col("id").alias("event_id"), F.lit("T").alias("event_type"))
    out = parse_fluent_forward(
        synthesize_fluent_payloads(df, cols={"etype": "event_type"}), "payload"
    )
    counts = {r["ff_mode"]: r["count"] for r in out.groupBy("ff_mode").count().collect()}
    # ids 0,3,6 message (1 row), 1,4,7 forward (2), 2,5,8 packed (2)
    assert counts == {"message": 3, "forward": 6, "packedforward": 6}
    assert out.filter(F.col("ff_chunk").isNotNull()).count() == 6  # packed only


# --- property: codec round-trip over arbitrary msgpack-subset values --------

from hypothesis import example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(1 << 62), max_value=(1 << 63) - 1),
    st.text(max_size=40),
    st.binary(max_size=40),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)
_value = st.recursive(
    _scalar,
    lambda inner: st.one_of(
        st.lists(inner, max_size=5), st.dictionaries(st.text(max_size=8), inner, max_size=5)
    ),
    max_leaves=12,
)


@settings(max_examples=120, deadline=None)
@given(_value)
def test_codec_roundtrip_property(v):
    enc = mp_encode(v)
    got, pos = mp_decode(enc)
    assert pos == len(enc)
    assert got == v


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=1, max_size=64))
@example(b"\x93\xa0\x00\x00")  # ["", 0, 0]: a message event whose record is not a map
def test_decode_event_never_hangs_or_crashes_unexpectedly(raw):
    """Arbitrary bytes either decode to rows or raise ValueError/IndexError/
    struct.error/Unicode errors — the exception families parse_fluent_forward
    converts to a dropped event. Nothing else may escape, and decode must
    terminate."""
    import struct as _struct

    try:
        rows = decode_event(raw)
        assert isinstance(rows, list)
    except (ValueError, IndexError, KeyError, TypeError, EOFError, OSError, _struct.error):
        pass


def test_fluent_and_otlp_pb_stream_equals_batch(spark, tmp_path):
    """The binary-wire decoders apply to readStream unchanged: an
    availableNow drain over a parquet spool of payloads must equal the
    batch parse of the same files."""
    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        parse_otlp_pb_logs,
        synthesize_otlp_pb,
    )

    df = spark.range(30).select(F.col("id").alias("event_id"), F.lit("T").alias("event_type"))
    spool = str(tmp_path / "spool")
    synthesize_fluent_payloads(df, cols={"etype": "event_type"}).write.parquet(spool)
    batch = parse_fluent_forward(spark.read.parquet(spool), "payload")
    schema = spark.read.parquet(spool).schema
    sdf = parse_fluent_forward(spark.readStream.schema(schema).parquet(spool), "payload")
    out = str(tmp_path / "out")
    (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    cols = ["event_id", "ff_mode", "ff_ts_us", "ff_body", "ff_attrs_csv"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, batch.select(cols).collect())
    )

    # same drill for the OTLP protobuf decoder
    spool2 = str(tmp_path / "spool2")
    synthesize_otlp_pb(df, cols={"etype": "event_type"}).write.parquet(spool2)
    batch2 = parse_otlp_pb_logs(spark.read.parquet(spool2), "payload")
    schema2 = spark.read.parquet(spool2).schema
    sdf2 = parse_otlp_pb_logs(spark.readStream.schema(schema2).parquet(spool2), "payload")
    out2 = str(tmp_path / "out2")
    (
        sdf2.writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got2 = spark.read.parquet(out2)
    cols2 = ["event_id", "ol_ts_us", "ol_severity_text", "ol_body", "ol_attrs_csv"]
    assert sorted(map(tuple, got2.select(cols2).collect())) == sorted(
        map(tuple, batch2.select(cols2).collect())
    )
