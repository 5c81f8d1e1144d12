"""Arrow IPC batch framing (operators/arrow_ipc.py): lossless pack/unpack,
cross-batch group carry, corrupt-frame and schema-mismatch drops."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.arrow_ipc import (
    decode_arrow_ipc,
    encode_arrow_ipc,
)

DDL = "id bigint, txt string, v double"


def _mk(spark, n=500, buckets=7):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % buckets).alias("b"),
        F.concat(F.lit("t"), (F.col("id") % 13).cast("string")).alias("txt"),
        (F.col("id") * 0.25).alias("v"),
    )


def test_roundtrip_lossless_and_group_counts(spark):
    df = _mk(spark)
    packed = encode_arrow_ipc(df, ["b"], ["id"], ["id", "txt", "v"])
    rows = packed.collect()
    assert len(rows) == 7 and sum(r["aip_rows"] for r in rows) == 500
    out = decode_arrow_ipc(packed, DDL, passthrough=["b"])
    got = sorted((r["id"], r["b"], r["txt"], r["v"]) for r in out.collect())
    want = sorted((r["id"], r["b"], r["txt"], r["v"]) for r in df.collect())
    assert got == want


def test_group_carry_across_tiny_arrow_batches(spark):
    # force many Arrow batches per partition so groups straddle batches
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        df = _mk(spark, n=400, buckets=3)
        packed = encode_arrow_ipc(df, ["b"], ["id"], ["id", "txt", "v"])
        rows = packed.collect()
        # one payload per key even though each group spans many 16-row batches
        assert sorted(r["b"] for r in rows) == [0, 1, 2]
        assert sum(r["aip_rows"] for r in rows) == 400
        # and each row of each group lands in its payload exactly once
        got = sorted((r["b"], r["id"]) for r in decode_arrow_ipc(packed, DDL, passthrough=["b"]).collect())
        assert got == sorted((i % 3, i) for i in range(400))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_corrupt_and_mismatched_payloads_drop(spark):
    import io

    buf = io.BytesIO()
    t = pa.table({"other": [1, 2]})
    with pa.ipc.new_stream(buf, t.schema) as w:
        w.write_table(t)
    df = spark.createDataFrame(
        [(1, bytearray(b"notarrow")), (2, bytearray(buf.getvalue())), (3, None)],
        "k int, payload binary",
    )
    out = decode_arrow_ipc(df, DDL, passthrough=["k"])
    assert out.count() == 0


def test_int64_beside_null_round_trips_exact(spark):
    big = 1_700_000_000_123_457_789  # above 2**53: a float64 would round it
    df = spark.createDataFrame([("k", 1, big), ("k", 2, None)], "key string, n long, v long")
    packed = encode_arrow_ipc(df, ["key"], ["n"], ["n", "v"])
    out = decode_arrow_ipc(packed, "n bigint, v bigint", passthrough=["key"])
    assert sorted(tuple(r) for r in out.collect()) == [("k", 1, big), ("k", 2, None)]


def test_null_keys_form_one_group(spark):
    df = spark.createDataFrame(
        [(None, 1, 1), (None, 2, 2), (None, 3, 3), ("k", 4, 4), ("k", 5, 5)],
        "key string, n long, v long",
    )
    packed = encode_arrow_ipc(df, ["key"], ["n"], ["n", "v"])
    got = sorted(((r["key"], r["aip_rows"]) for r in packed.collect()), key=str)
    want = sorted(((r["key"], r["count"]) for r in df.groupBy("key").count().collect()), key=str)
    assert got == want == [("k", 2), (None, 3)]
