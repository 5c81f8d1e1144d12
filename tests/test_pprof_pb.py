"""pprof profile.proto decode (pprofreceiver / pkg/translator/pprof)."""

from __future__ import annotations

import gzip

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_contrib_spark.operators._wire import enc_ld, enc_tag, enc_varint
from opentelemetry_collector_contrib_spark.operators.pprof_pb import (
    decode_pprof_profile,
    enc_pprof_profile,
    parse_pprof_profiles,
    synthesize_pprof,
)


def _one_sample_profile(**kw):
    return enc_pprof_profile(
        [("cpu", "nanoseconds")],
        [{"stack": [("leaf", "a.go", 1), ("root", "m.go", 2)], "values": [7]}],
        **kw,
    )


def test_round_trip_plain_and_gzip():
    for gz in (False, True):
        rows = decode_pprof_profile(_one_sample_profile(gzipped=gz))
        assert len(rows) == 1
        r = rows[0]
        assert r["sample_type"] == "cpu" and r["sample_unit"] == "nanoseconds"
        assert r["value"] == 7
        assert r["stack"] == "leaf;root"  # leaf-first, pprof convention


def test_negative_values_and_lines():
    p = enc_pprof_profile(
        [("delta", "count")],
        [{"stack": [("f", "a.go", -1)], "values": [-42]}],
        time_nanos=-1,
    )
    r = decode_pprof_profile(p)[0]
    assert r["value"] == -42
    assert r["time_nanos"] == -1


def test_labels_sorted_and_typed():
    p = enc_pprof_profile(
        [("cpu", "ns")],
        [
            {
                "stack": [("f", "a.go", 1)],
                "values": [1],
                "labels": {"z": "last", "a": "first"},
                "num_labels": {"bytes": (512, "bytes"), "count": (3, "")},
            }
        ],
    )
    r = decode_pprof_profile(p)[0]
    assert r["labels_csv"] == "a=first,z=last"
    assert r["num_labels_csv"] == "bytes=512:bytes,count=3"


def test_unpacked_repeated_accepted():
    """Sample.location_id / value may arrive unpacked (one varint field per
    element) — proto2-era writers do this; readers must accept both."""
    # string table: "", "cpu", "ns", "fn"
    strtab = b"".join(enc_ld(6, s) for s in [b"", b"cpu", b"ns", b"fn"])
    vt = enc_ld(1, enc_tag(1, 0) + enc_varint(1) + enc_tag(2, 0) + enc_varint(2))
    fn = enc_ld(5, enc_tag(1, 0) + enc_varint(1) + enc_tag(2, 0) + enc_varint(3))
    line = enc_tag(1, 0) + enc_varint(1) + enc_tag(2, 0) + enc_varint(5)
    loc = enc_ld(4, enc_tag(1, 0) + enc_varint(9) + enc_ld(4, line))
    sample = enc_ld(2, enc_tag(1, 0) + enc_varint(9) + enc_tag(2, 0) + enc_varint(11))
    rows = decode_pprof_profile(vt + sample + loc + fn + strtab)
    assert rows[0]["value"] == 11 and rows[0]["stack"] == "fn"


def test_unsymbolized_location_renders_address():
    strtab = b"".join(enc_ld(6, s) for s in [b"", b"cpu", b"ns"])
    vt = enc_ld(1, enc_tag(1, 0) + enc_varint(1) + enc_tag(2, 0) + enc_varint(2))
    loc = enc_ld(4, enc_tag(1, 0) + enc_varint(255))  # no line info
    sample = enc_ld(2, enc_ld(1, enc_varint(255)) + enc_ld(2, enc_varint(1)))
    rows = decode_pprof_profile(vt + sample + loc + strtab)
    assert rows[0]["stack"] == "0xff"


def test_malformed_payloads_raise():
    with pytest.raises(Exception):
        decode_pprof_profile(b"\x1f\x8b not actually gzip")
    # dangling location reference
    strtab = b"".join(enc_ld(6, s) for s in [b"", b"cpu", b"ns"])
    vt = enc_ld(1, enc_tag(1, 0) + enc_varint(1) + enc_tag(2, 0) + enc_varint(2))
    sample = enc_ld(2, enc_ld(1, enc_varint(77)) + enc_ld(2, enc_varint(1)))
    with pytest.raises(ValueError):
        decode_pprof_profile(vt + sample + strtab)
    # value count != sample_type count
    p = enc_pprof_profile(
        [("cpu", "ns"), ("mem", "bytes")],
        [{"stack": [("f", "a.go", 1)], "values": [1]}],
    )
    with pytest.raises(ValueError):
        decode_pprof_profile(p)


def test_gzip_bomb_guarded():
    big = gzip.compress(b"\x00" * (65 * 1024 * 1024), compresslevel=1)
    with pytest.raises(ValueError):
        decode_pprof_profile(big)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_decoder_total_on_arbitrary_bytes(data):
    """Same contract as the other wire readers: bounded failure (raise) or
    a well-formed row list — never a hang, never a partial row."""
    try:
        rows = decode_pprof_profile(data)
    except Exception:
        return
    for r in rows:
        assert isinstance(r["value"], int)
        assert isinstance(r["stack"], str)


def test_flame_rollup_recursion_counted_once(spark):
    from opentelemetry_collector_contrib_spark.operators.pprof_pb import flame_rollup

    df = spark.createDataFrame(
        [
            ("a;b;a;main", 10),  # recursive 'a': inclusive counts 10 once
            ("b;main", 5),
            ("a;main", 1),
        ],
        "stack string, value long",
    )
    got = {r.func: r for r in flame_rollup(df).collect()}
    assert got["a"].inclusive == 11 and got["a"].exclusive == 11
    assert got["b"].inclusive == 15 and got["b"].exclusive == 5
    assert got["main"].inclusive == 16 and got["main"].exclusive == 0
    assert got["main"].n_samples == 3


def test_spark_parse_matches_local(spark):
    df = spark.createDataFrame(
        [(i, i % 5, 1_700_000_000_000_000 + i) for i in range(40)],
        "event_id long, user_id long, ts_us long",
    )
    out = parse_pprof_profiles(synthesize_pprof(df), "payload").collect()
    # row count: sum over events of (1 + eid%2) * 2 sample types
    assert len(out) == sum((1 + i % 2) * 2 for i in range(40))
    by_key = {(r.event_id, r.sample_idx, r.sample_type): r for r in out}
    r = by_key[(3, 1, "cpu")]
    assert r.value == 3 * 100 + 1
    assert r.stack == f"func_{(3 + 1) % 5};main_{3 % 3}"
    assert r.labels_csv == "thread=t3"
    assert r.num_labels_csv == "alloc=3:bytes"
    assert r.period == 10_000_000 and r.period_type == "cpu"
    assert r.time_nanos == (1_700_000_000_000_000 + 3) * 1000
