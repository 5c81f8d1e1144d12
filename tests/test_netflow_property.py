"""Property tests for the binary flow / ALS decoders: totality on
arbitrary bytes (either a clean ValueError or a list of well-formed row
dicts — never any other exception, never a malformed row), plus
mutation-robustness on real packets. No Spark needed — these are the pure
kernels the mapInPandas wrappers call, so hypothesis can afford volume."""

from __future__ import annotations

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_contrib_spark.operators.envoy_als import (
    decode_als_message,
    enc_als_message,
    enc_http_entry,
)
from opentelemetry_collector_contrib_spark.operators.netflow import (
    _NF_FIELDS,
    decode_ipfix,
    decode_netflow_v5,
    decode_sflow,
    enc_netflow_v5,
)

raw = st.binary(max_size=300)
_NF_KEYS = {f.name for f in _NF_FIELDS}


def _assert_nf_rows(rows):
    assert isinstance(rows, list)
    for r in rows:
        assert set(r) == _NF_KEYS


@given(raw)
@settings(max_examples=1500)
def test_netflow_v5_total(b):
    try:
        _assert_nf_rows(decode_netflow_v5(b))
    except ValueError:
        pass


@given(raw)
@settings(max_examples=1500)
def test_ipfix_total(b):
    try:
        _assert_nf_rows(decode_ipfix(b))
    except ValueError:
        pass


@given(raw)
@settings(max_examples=1500)
def test_sflow_total(b):
    try:
        rows = decode_sflow(b)
        _assert_nf_rows(rows)
    except ValueError:
        pass


# version-plausible prefixes dig past the header guards into the body walks
@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=1500)
def test_v5_total_with_valid_version_prefix(tail):
    b = struct.pack(">H", 5) + tail
    try:
        _assert_nf_rows(decode_netflow_v5(b))
    except ValueError:
        pass


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=1500)
def test_ipfix_total_with_valid_version_prefix(tail):
    b = struct.pack(">H", 10) + tail
    try:
        _assert_nf_rows(decode_ipfix(b))
    except ValueError:
        pass


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=1500)
def test_sflow_total_with_valid_version_prefix(tail):
    b = struct.pack(">I", 5) + tail
    try:
        _assert_nf_rows(decode_sflow(b))
    except ValueError:
        pass


@given(st.integers(min_value=0, max_value=400), st.integers(min_value=0, max_value=255))
@settings(max_examples=800)
def test_v5_single_byte_mutation_total(pos, val):
    """Flipping any one byte of a REAL packet must still decode cleanly or
    raise ValueError — never shift into an un-guarded state."""
    rec = {
        "src": bytes([10, 0, 0, 1]), "dst": bytes([10, 0, 0, 2]),
        "hop": bytes([0, 0, 0, 0]), "in_if": 1, "out_if": 2, "pkts": 3,
        "octets": 4, "first": 100, "last": 200, "sport": 80, "dport": 443,
        "flags": 2, "proto": 6, "src_as": 1, "dst_as": 2,
    }
    pkt = bytearray(enc_netflow_v5(1_700_000_000, 1, [rec, rec]))
    pkt[pos % len(pkt)] = val
    try:
        _assert_nf_rows(decode_netflow_v5(bytes(pkt)))
    except ValueError:
        pass


# the ALS decoder rides explode_decode, whose per-payload guard drops on ANY
# exception — so its contract (like the other pb decoders in
# test_otlp_pb.py) is TERMINATION within the bounded exception set, not
# ValueError-only like the length-checked flow decoders above.
_PB_BOUNDED = (ValueError, IndexError, KeyError, TypeError, AttributeError,
               MemoryError, OverflowError, struct.error, UnicodeDecodeError)


@given(raw)
@settings(max_examples=1500)
def test_envoy_als_total(b):
    try:
        rows = decode_als_message(b)
        assert isinstance(rows, list)
        for r in rows:
            assert r["ea_type"] in ("http", "tcp")
    except _PB_BOUNDED:
        pass


@given(st.integers(min_value=0, max_value=400), st.integers(min_value=0, max_value=255))
@settings(max_examples=800)
def test_envoy_als_mutation_total(pos, val):
    entry = enc_http_entry(
        start_us=1_700_000_000_000_000, duration_us=1000, method=1,
        scheme="https", authority="a", path="/p", user_agent="u",
        request_id="r", req_bytes=1, code=200, resp_bytes=2,
        down_addr="10.0.0.1", down_port=1, cluster="c", route="r",
    )
    pkt = bytearray(enc_als_message("l", [entry]))
    pkt[pos % len(pkt)] = val
    try:
        rows = decode_als_message(bytes(pkt))
        assert isinstance(rows, list)
    except _PB_BOUNDED:
        pass
