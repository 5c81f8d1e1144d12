"""Prometheus remote-write 2.0 decode (prometheusremotewritereceiver)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_contrib_spark.operators.prw2 import (
    decode_remote_write_v2,
    enc_remote_write_v2,
    parse_remote_write_v2,
    prw2_apply_target_info,
    synthesize_prw2,
)


def test_symbol_table_round_trip():
    p = enc_remote_write_v2(
        [
            {
                "labels": {"__name__": "up", "job": "svc", "instance": "h1", "env": "prod"},
                "samples": [(1000, 1.0), (2000, 0.5)],
                "type": 2, "unit": "1", "help": "up gauge",
            }
        ]
    )
    rows = decode_remote_write_v2(p)
    assert len(rows) == 2
    r = rows[0]
    assert r["prw_name"] == "up" and r["prw_job"] == "svc" and r["prw_instance"] == "h1"
    assert r["prw_labels_csv"] == "env=prod"
    assert r["prw_type"] == "gauge" and r["prw_unit"] == "1" and r["prw_help"] == "up gauge"
    assert rows[1]["prw_ts_ms"] == 2000 and rows[1]["prw_value"] == 0.5


def test_per_series_validation_skips():
    """receiver.go:346-394: duplicate label names, missing __name__, and
    out-of-bounds refs skip the SERIES, not the request."""
    good = {"labels": {"__name__": "ok", "job": "j"}, "samples": [(1, 1.0)]}
    dup = {"labels": [("__name__", "d"), ("a", "1"), ("a", "2")], "samples": [(1, 2.0)]}
    nameless = {"labels": {"job": "j"}, "samples": [(1, 3.0)]}
    rows = decode_remote_write_v2(enc_remote_write_v2([good, dup, nameless]))
    assert [r["prw_name"] for r in rows] == ["ok"]
    # out-of-bounds labels_refs: craft by appending a bogus ref
    from opentelemetry_collector_contrib_spark.operators._wire import enc_ld, enc_varint

    p = enc_remote_write_v2([good])
    bogus = enc_ld(5, enc_ld(1, enc_varint(250) + enc_varint(251)))
    assert [r["prw_name"] for r in decode_remote_write_v2(p + bogus)] == ["ok"]


def test_empty_unit_help_are_null():
    p = enc_remote_write_v2([{"labels": {"__name__": "m"}, "samples": [(5, 7.0)]}])
    r = decode_remote_write_v2(p)[0]
    assert r["prw_unit"] is None and r["prw_help"] is None
    assert r["prw_job"] is None and r["prw_instance"] is None


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=300))
def test_decoder_total_on_arbitrary_bytes(data):
    try:
        rows = decode_remote_write_v2(data)
    except Exception:
        return
    for r in rows:
        assert r["prw_name"]


def test_spark_target_info_bridge(spark):
    df = spark.createDataFrame(
        [(i, i % 7, 1_700_000_000_000 + i) for i in range(30)],
        "event_id long, user_id long, ts_ms long",
    )
    out = prw2_apply_target_info(
        parse_remote_write_v2(synthesize_prw2(df), "payload")
    ).collect()
    assert len(out) == 30  # target_info consumed; dup/nameless skipped
    for r in out:
        uid = int(r.prw_instance.split("-")[1])
        assert r.resource_csv == f"k8s_cluster=c{uid % 3}"
        assert r.prw_type == "counter"
