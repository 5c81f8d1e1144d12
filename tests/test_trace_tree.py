"""Trace-tree operators (coralogixprocessor analogue).

Critical-path cases mirror the reference's table in
processor/coralogixprocessor/internal/criticalpath/critical_path_test.go
(span name, start, end, id, parent-id, expected exclusive/inclusive).
Transaction cases mirror internal/transactions/trasactions_test.go semantics:
root selection (explicit over orphan, earliest start, smallest id),
server/consumer spans opening new transactions, orphan subtrees untouched.
"""

import pytest

from opentelemetry_collector_contrib_spark.operators.trace_tree import (
    critical_path,
    transaction_attributes,
    transactions_and_critical_path,
)

SCHEMA = (
    "trace_id string, span_id string, parent_span_id string, "
    "name string, kind string, start_ns long, end_ns long"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _span(name, start, end, sid, parent, kind="client", trace="t1"):
    return (trace, str(sid), str(parent) if parent is not None else None, name, kind, start, end)


def _cp(spark, rows):
    out = critical_path(_df(spark, rows)).collect()
    return {r["span_id"]: (r["on_path"], r["exclusive_ns"], r["inclusive_ns"]) for r in out}


# --- critical path: reference test table ---------------------------------


def test_cp_single_span(spark):
    got = _cp(spark, [_span("root", 0, 100, 1, None)])
    assert got["1"] == (True, 100, 100)


def test_cp_jaeger_sibling_hop(spark):
    got = _cp(
        spark,
        [
            _span("root", 1, 101, 1, None),
            _span("left", 10, 50, 2, 1),
            _span("right", 20, 60, 3, 1),
        ],
    )
    assert got["1"] == (True, 60, 100)
    assert got["2"] == (None, None, None)  # off-path: attrs absent
    assert got["3"] == (True, 40, 40)


def test_cp_non_overlapping_siblings_reenter_parent(spark):
    got = _cp(
        spark,
        [
            _span("root", 1, 101, 1, None),
            _span("first", 20, 40, 2, 1),
            _span("second", 50, 60, 3, 1),
        ],
    )
    assert got["1"] == (True, 70, 100)
    assert got["2"] == (True, 20, 20)
    assert got["3"] == (True, 10, 10)


def test_cp_overlapping_earlier_sibling_not_selected(spark):
    got = _cp(
        spark,
        [
            _span("root", 0, 120, 1, None),
            _span("first", 20, 80, 2, 1),
            _span("second", 50, 100, 3, 1),
        ],
    )
    assert got["1"] == (True, 70, 120)
    assert got["2"] == (None, None, None)
    assert got["3"] == (True, 50, 50)


def test_cp_nested_descendants(spark):
    got = _cp(
        spark,
        [
            _span("root", 0, 200, 1, None),
            _span("child", 20, 180, 2, 1),
            _span("grandchild", 60, 160, 3, 2),
            _span("leaf", 100, 150, 4, 3),
        ],
    )
    assert got["1"] == (True, 40, 200)
    assert got["2"] == (True, 60, 160)
    assert got["3"] == (True, 50, 100)
    assert got["4"] == (True, 50, 50)


def test_cp_multi_root_and_missing_parent(spark):
    got = _cp(
        spark,
        [
            _span("root-a", 0, 100, 1, None),
            _span("child-a", 20, 60, 2, 1),
            _span("root-b", 70, 130, 3, 99),  # parent 99 absent -> orphan root
        ],
    )
    assert got["1"] == (True, 60, 100)
    assert got["2"] == (True, 40, 40)
    assert got["3"] == (True, 60, 60)


def test_cp_invalid_intervals_ignored(spark):
    got = _cp(
        spark,
        [
            _span("root", 0, 100, 1, None),
            _span("zero", 80, 80, 2, 1),
            _span("invalid", 90, 70, 3, 1),
        ],
    )
    assert got["1"] == (True, 100, 100)
    assert got["2"] == (None, None, None)
    assert got["3"] == (None, None, None)


def test_cp_overflowing_child_truncated(spark):
    got = _cp(
        spark,
        [
            _span("root", 0, 100, 1, None),
            _span("overflow", 80, 120, 2, 1),  # clipped to [80,100]
        ],
    )
    assert got["1"] == (True, 80, 100)
    assert got["2"] == (True, 20, 20)


def test_cp_disjoint_child_dropped(spark):
    # child starts after the parent ends: dropped, whole subtree unreachable
    got = _cp(
        spark,
        [
            _span("root", 0, 100, 1, None),
            _span("late", 100, 150, 2, 1),
            _span("late-leaf", 110, 120, 3, 2),
        ],
    )
    assert got["1"] == (True, 100, 100)
    assert got["2"] == (None, None, None)
    assert got["3"] == (None, None, None)


def test_cp_groups_are_independent(spark):
    rows = [
        _span("root", 0, 100, 1, None, trace="ta"),
        _span("child", 0, 50, 2, 1, trace="ta"),
        _span("root", 0, 30, 1, None, trace="tb"),
    ]
    out = critical_path(_df(spark, rows)).collect()
    got = {(r["trace_id"], r["span_id"]): r["exclusive_ns"] for r in out}
    assert got[("ta", "1")] == 50 and got[("ta", "2")] == 50
    assert got[("tb", "1")] == 30


# --- transactions ---------------------------------------------------------


def _tx(spark, rows):
    out = transaction_attributes(_df(spark, rows)).collect()
    return {r["span_id"]: (r["transaction"], r["transaction_root"]) for r in out}


def test_tx_root_name_propagates(spark):
    got = _tx(
        spark,
        [
            _span("GET /", 0, 100, 1, None, kind="server"),
            _span("db.query", 10, 50, 2, 1),
            _span("cache.get", 60, 70, 3, 2),
        ],
    )
    assert got["1"] == ("GET /", True)
    assert got["2"] == ("GET /", None)
    assert got["3"] == ("GET /", None)


def test_tx_server_child_opens_new_transaction(spark):
    got = _tx(
        spark,
        [
            _span("GET /", 0, 100, 1, None),
            _span("POST /inner", 10, 50, 2, 1, kind="server"),
            _span("db.query", 20, 40, 3, 2),  # inherits the INNER transaction
            _span("render", 60, 90, 4, 1),
        ],
    )
    assert got["1"] == ("GET /", True)
    assert got["2"] == ("POST /inner", True)
    assert got["3"] == ("POST /inner", None)
    assert got["4"] == ("GET /", None)


def test_tx_consumer_kind_also_opens(spark):
    got = _tx(
        spark,
        [
            _span("GET /", 0, 100, 1, None),
            _span("queue.consume", 10, 50, 2, 1, kind="consumer"),
        ],
    )
    assert got["2"] == ("queue.consume", True)


def test_tx_explicit_root_beats_earlier_orphan(spark):
    # orphan (missing parent) starts earlier, but the explicit root
    # (empty parent id) wins — span_tree.go:42
    got = _tx(
        spark,
        [
            _span("orphan", 0, 40, 1, 99),
            _span("explicit", 10, 100, 2, None),
            _span("child", 20, 80, 3, 2),
        ],
    )
    assert got["2"] == ("explicit", True)
    assert got["3"] == ("explicit", None)
    assert got["1"] == (None, None)  # orphan subtree untouched


def test_tx_fallback_earliest_then_smallest_id(spark):
    # no explicit root: earliest start wins; tie -> smaller span id string
    got = _tx(
        spark,
        [
            _span("b-root", 5, 90, "b", 99),
            _span("a-root", 5, 80, "a", 98),
            _span("later", 30, 60, "c", 97),
        ],
    )
    assert got["a"] == ("a-root", True)
    assert got["b"] == (None, None)
    assert got["c"] == (None, None)


def test_combined_single_pass_matches_features(spark):
    rows = [
        _span("root", 1, 101, 1, None),
        _span("left", 10, 50, 2, 1),
        _span("right", 20, 60, 3, 1, kind="server"),
    ]
    out = {r["span_id"]: r for r in transactions_and_critical_path(_df(spark, rows)).collect()}
    assert out["1"]["transaction"] == "root" and out["1"]["transaction_root"] is True
    assert out["3"]["transaction"] == "right" and out["3"]["transaction_root"] is True
    assert out["2"]["transaction"] == "root" and out["2"]["transaction_root"] is None
    assert (out["1"]["exclusive_ns"], out["1"]["inclusive_ns"]) == (60, 100)
    assert (out["3"]["exclusive_ns"], out["3"]["inclusive_ns"]) == (40, 40)
    assert out["2"]["exclusive_ns"] is None


def test_cp_flat_trace_scales_linearly(spark):
    # 500 sequential children under one root: the cursor walk must visit each
    # child once (the Go reference is O(n^2) here). Closed form: root owns
    # the 499 gaps x200 + leading 1000 + trailing 100.
    n = 500
    rows = [_span("root", 0, 1000 * n + 900, 0, None)]
    rows += [_span(f"c{i}", 1000 * i, 1000 * i + 800, i, 0) for i in range(1, n + 1)]
    got = _cp(spark, rows)
    assert got["0"] == (True, 1000 + 200 * (n - 1) + 100, 1000 + 200 * (n - 1) + 100 + 800 * n)
    assert got["7"] == (True, 800, 800)
    assert got[str(n)] == (True, 800, 800)


def test_cp_vertical_chain_with_side_branches(spark):
    # e2e_test.go "vertical_chain": deep chain wins; earlier siblings off-path
    got = _cp(
        spark,
        [
            _span("root", 0, 150, 1, None),
            _span("branch-a", 10, 150, 2, 1),
            _span("branch-a-db", 30, 150, 3, 2),
            _span("branch-a-io", 70, 150, 4, 3),
            _span("branch-b", 20, 80, 5, 1),
            _span("branch-c", 90, 120, 6, 1),
        ],
    )
    assert got["1"] == (True, 10, 150)
    assert got["2"] == (True, 20, 140)
    assert got["3"] == (True, 40, 120)
    assert got["4"] == (True, 80, 80)
    assert got["5"] == (None, None, None)
    assert got["6"] == (None, None, None)


def test_cp_very_deep_chain_no_recursion_limit(spark):
    # e2e_test.go TestCriticalPathE2E_VeryDeepChain: 4096-deep chain, every
    # span [i, depth]. The walk and the inclusive sum are iterative, so this
    # must not hit Python's recursion limit.
    depth = 4096
    rows = [_span("span-0", 0, depth, 0, None)]
    rows += [_span(f"span-{i}", i, depth, i, i - 1) for i in range(1, depth)]
    got = _cp(spark, rows)
    assert got["0"] == (True, 1, depth)
    assert got["2048"] == (True, 1, depth - 2048)
    assert got[str(depth - 1)] == (True, 1, 1)


def test_otlp_json_traces_feed_critical_path(spark):
    # end-to-end: OTLP/JSON payloads -> span rows -> CRISP attribution
    from opentelemetry_collector_contrib_spark.operators.parse import otlp_json_traces
    from pyspark.sql import functions as F

    def payload(spans):
        inner = ",".join(
            '{"traceId":"t1","spanId":"%s","parentSpanId":"%s","name":"%s",'
            '"kind":2,"startTimeUnixNano":"%d","endTimeUnixNano":"%d"}'
            % (sid, parent or "", name, s, e)
            for sid, parent, name, s, e in spans
        )
        return (
            '{"resourceSpans":[{"resource":{"attributes":[]},'
            '"scopeSpans":[{"scope":{"name":"sc"},"spans":[' + inner + "]}]}]}"
        )

    p = payload([("1", None, "root", 1, 101), ("2", "1", "left", 10, 50), ("3", "1", "right", 20, 60)])
    df = spark.createDataFrame([(p,), ("not otlp",)], "payload string")
    spans = otlp_json_traces(df, "payload").select(
        "trace_id",
        "span_id",
        "parent_span_id",
        F.col("span_name").alias("name"),
        F.lit("client").alias("kind"),
        F.col("start_unix_nano").alias("start_ns"),
        F.col("end_unix_nano").alias("end_ns"),
    )
    # empty parentSpanId string must read as "no parent" in the tree builder
    got = {r["span_id"]: (r["on_path"], r["exclusive_ns"], r["inclusive_ns"])
           for r in critical_path(spans).collect()}
    assert got["1"] == (True, 60, 100)
    assert got["2"] == (None, None, None)
    assert got["3"] == (True, 40, 40)


def test_kernel_buffers_batch_straddling_traces(spark):
    # force tiny Arrow batches so one trace spans several mapInPandas
    # batches; the generator must buffer and reassemble it exactly
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        n = 23
        rows = [_span("root", 0, 1000 * n + 900, 0, None, trace="big")]
        rows += [_span(f"c{i}", 1000 * i, 1000 * i + 800, i, 0, trace="big") for i in range(1, n + 1)]
        rows += [_span("solo", 0, 50, 1, None, trace="tiny")]
        out = critical_path(_df(spark, rows)).collect()
        # the big trace spans five 5-row batches: every span comes out once
        big = sorted(r["span_id"] for r in out if r["trace_id"] == "big")
        assert big == sorted(str(i) for i in range(n + 1))
        got = {(r["trace_id"], r["span_id"]): r["exclusive_ns"] for r in out}
        assert got[("big", "0")] == 1000 + 200 * (n - 1) + 100
        assert got[("big", str(n))] == 800 and got[("big", "1")] == 800
        assert got[("tiny", "1")] == 50
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


BIG = 1_700_000_000_123_457_789  # above 2**53: a float64 would round it


def test_int64_beside_null_stays_exact(spark):
    # one Arrow batch holds end_ns values above 2**53 next to a NULL in the
    # same column; they must pass through, and feed the walk, digit-exact
    rows = [
        _span("root", 1_700_000_000_000_000_000, BIG, 1, None, kind="server"),
        _span("a", 1_700_000_000_000_000_001, None, 2, 1),
        _span("b", 1_700_000_000_000_000_002, BIG - 991, 3, 1),
    ]
    got = {r["span_id"]: r for r in critical_path(_df(spark, rows)).collect()}
    assert [got[s]["end_ns"] for s in "123"] == [BIG, None, BIG - 991]
    assert (got["1"]["exclusive_ns"], got["1"]["inclusive_ns"]) == (993, 123_457_789)
    assert (got["3"]["exclusive_ns"], got["3"]["inclusive_ns"]) == (123_456_796, 123_456_796)
    assert got["2"]["on_path"] is None
