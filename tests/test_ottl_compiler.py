"""Tests for the OTTL statement compiler and the config-driven pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions.ottl_compiler import (
    apply_statements,
    parse_condition,
    parse_statement,
)
from opentelemetry_collector_contrib_spark.plans.config import build_pipeline, validate_spec


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        ("c1", 0, "user", "hello world", "none", None),
        ("c1", 1, "assistant", "LOG lvl=err", "search", "err"),
        ("c2", 0, "system", "boot", "none", "ok"),
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, status string")


def test_set_literal(df):
    out = apply_statements(df, ['set(pipeline, "logs")'])
    assert out.filter(F.col("pipeline") != "logs").count() == 0


def test_set_where_condition(df):
    out = apply_statements(df, ['set(flagged, true) where status == "err"'])
    got = {r["conv_id"] + str(r["turn_idx"]): r["flagged"] for r in out.collect()}
    assert got["c11"] is True
    assert got["c10"] is None  # untouched rows keep the (absent->null) value


def test_set_converter_and_math(df):
    out = apply_statements(df, ["set(t2, turn_idx * 10 + 1)", 'set(up, ToUpperCase(role))'])
    r = {r["turn_idx"]: r for r in out.filter(F.col("conv_id") == "c1").collect()}
    assert r[1]["t2"] == 11
    assert r[0]["up"] == "USER"


def test_body_path_maps_to_text(df):
    out = apply_statements(df, ['set(head, Substring(body, 0, 5))'])
    assert out.filter(F.col("conv_id") == "c2").collect()[0]["head"] == "boot"


def test_attributes_index_path(df):
    cond = parse_condition('attributes["status"] == "err" and role == "assistant"')
    assert df.filter(cond).count() == 1


def test_delete_and_keep(df):
    out = apply_statements(df, ["delete_key(status)"])
    assert "status" not in out.columns
    out2 = apply_statements(df, ['keep_keys(conv_id, turn_idx)'])
    assert out2.columns == ["conv_id", "turn_idx"]


def test_condition_or_not(df):
    cond = parse_condition('not (status == "ok") and turn_idx >= 1')
    # null status rows: null comparison -> null -> not(null)=null -> filtered out (reference: false)
    assert df.filter(cond).count() == 1


def test_parse_errors():
    with pytest.raises(ValueError):
        parse_statement("set(x,")
    with pytest.raises(ValueError):
        parse_statement('unknown_editor(x, 1)')
    with pytest.raises(ValueError):
        parse_condition('NoSuchFn(x) == 1')


@pytest.fixture(scope="module")
def mapped(spark):
    """Rows with map + array columns for the editor surface (mirrors the
    attribute-map shape of pkg/ottl/e2e/e2e_test.go statement cases)."""
    rows = [
        ("a", "lvl=info tool=search latency_ms=1234 status=ok", ["x"], "ok"),
        ("b", "lvl=error tool=calc latency_ms=99999 status=err", ["y"], "err"),
    ]
    df = spark.createDataFrame(rows, "id string, kvs string, arr array<string>, status string")
    return df.withColumn("kv", F.str_to_map(F.col("kvs"), F.lit(" "), F.lit("=")))


def _kv(row) -> dict:
    return dict(row["kv"])


def test_editor_replace_pattern_where(mapped):
    out = apply_statements(mapped, ['replace_pattern(kvs, "[0-9]+", "#") where status == "err"'])
    got = {r["id"]: r["kvs"] for r in out.collect()}
    assert got["b"] == "lvl=error tool=calc latency_ms=# status=err"
    assert got["a"] == "lvl=info tool=search latency_ms=1234 status=ok"  # untouched


def test_editor_truncate_limit_delete(mapped):
    out = apply_statements(
        mapped,
        ['truncate_all(kv, 4)', 'limit(kv, 3)', 'delete_matching_keys(kv, "^lat")'],
    )
    got = {r["id"]: _kv(r) for r in out.collect()}
    # truncate to 4 chars, first-3 entries kept, latency_ms dropped
    assert got["a"] == {"lvl": "info", "tool": "sear"}
    assert got["b"] == {"lvl": "erro", "tool": "calc"}


def test_editor_keep_matching_and_replace_all(mapped):
    out = apply_statements(
        mapped,
        ['replace_all_patterns(kv, "value", "[0-9]+", "N")', 'keep_matching_keys(kv, "^(lvl|latency)")'],
    )
    got = {r["id"]: _kv(r) for r in out.collect()}
    assert got["a"] == {"lvl": "info", "latency_ms": "N"}


def test_editor_replace_all_patterns_keys(mapped):
    out = apply_statements(mapped, ['replace_all_patterns(kv, "key", "^lvl$", "level")'])
    assert "level" in _kv(out.filter(F.col("id") == "a").collect()[0])
    # colliding rewrite: every key -> 'k', LAST entry (status) wins
    out2 = apply_statements(mapped, ['replace_all_patterns(kv, "key", "^.*$", "k")'])
    got = _kv(out2.filter(F.col("id") == "a").collect()[0])
    assert got == {"k": "ok"}


def test_editor_merge_maps(mapped):
    withb = mapped.withColumn("kv2", F.create_map(F.lit("lvl"), F.lit("OVR"), F.lit("new"), F.lit("1")))
    ups = apply_statements(withb, ['merge_maps(kv, kv2, "upsert")'])
    ins = apply_statements(withb, ['merge_maps(kv, kv2, "insert")'])
    upd = apply_statements(withb, ['merge_maps(kv, kv2, "update")'])
    a_ups = _kv(ups.filter(F.col("id") == "a").collect()[0])
    a_ins = _kv(ins.filter(F.col("id") == "a").collect()[0])
    a_upd = _kv(upd.filter(F.col("id") == "a").collect()[0])
    assert a_ups["lvl"] == "OVR" and a_ups["new"] == "1"
    assert a_ins["lvl"] == "info" and a_ins["new"] == "1"
    assert a_upd["lvl"] == "OVR" and "new" not in a_upd


def test_editor_append_array(mapped):
    out = apply_statements(mapped, ['append(arr, "z")'])
    assert out.filter(F.col("id") == "a").collect()[0]["arr"] == ["x", "z"]


def test_keep_keys_where_raises(mapped):
    with pytest.raises(ValueError):
        apply_statements(mapped, ['keep_keys(id, status) where status == "err"'])


def test_merge_maps_bad_strategy(mapped):
    withb = mapped.withColumn("kv2", F.create_map(F.lit("a"), F.lit("b")))
    with pytest.raises(ValueError):
        apply_statements(withb, ['merge_maps(kv, kv2, "bogus")'])


def test_config_pipeline(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.fixtures import dims_dir, ensure_dims, ensure_tier

    ensure_dims()
    spec = {
        "source": {"path": ensure_tier("t1")},
        "parse": {"bank": "native"},
        "transform": ['set(engine, "spark")'],
        "enrich": [
            {
                "dim_path": dims_dir() + "/tool_dim.parquet",
                "key": "tool",
                "defaults": {"tool_category": "Unknown", "tool_cost_weight": 0.0},
            }
        ],
        "routes": {
            "default": "general",
            "table": [{"name": "errors", "condition": 'status == "err"', "mode": "move"}],
        },
        "aggregates": {"per_conv": {"keys": ["conv_id"]}},
    }
    routed = build_pipeline(spark, spec)
    assert routed.filter(F.col("engine") != "spark").count() == 0
    # route parity with the hand-built pipeline's route condition
    n_err = routed.filter(F.col("route_id") == "errors").count()
    assert n_err == routed.filter(F.col("status") == "err").count()
    assert "turn_rn" in routed.columns


def test_config_validation(spark):
    with pytest.raises(ValueError):
        validate_spec({"source": {}})
    with pytest.raises(ValueError):
        validate_spec({"source": {"path": "x"}, "routes": {"table": []}})
    with pytest.raises(ValueError):
        validate_spec({"source": {"path": "x"}, "transform": ["set(x"]})
    with pytest.raises(ValueError):
        validate_spec({"source": {"path": "x"}, "bogus_section": {}})
    # dlq rule conditions compile at startup, like route conditions
    for when in ('pattern_id == == (', 5):
        with pytest.raises(ValueError):
            validate_spec({"source": {"path": "x"}, "dlq": {"rules": [{"reason": "x", "when": when}]}})
    # parse.bank picks the regex bank: a typo or a non-mapping section fails
    # at startup instead of running the native bank or raising mid-build
    for parse in ({"bank": "vectorised"}, "vectorized"):
        with pytest.raises(ValueError, match="parse"):
            validate_spec({"source": {"path": "x"}, "parse": parse})


def test_order_partitions_validation():
    """order.partitions must be a positive int; a bool is not an int here."""
    for bad in (0, -2, "4", True, 2.0):
        with pytest.raises(ValueError, match="order.partitions"):
            validate_spec({"source": {"path": "x"}, "order": {"partitions": bad}})
    validate_spec({"source": {"path": "x"}, "order": {"partitions": 4}})


def test_order_partitions_repartitions_on_conv_id(spark):
    """order.partitions repartitions the routed frame on conv_id into
    exactly n partitions ahead of the order window."""
    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    spec = {"source": {"path": ensure_tier("t1")}, "order": {"enabled": True, "partitions": 3}}
    routed = build_pipeline(spark, spec)
    assert routed.rdd.getNumPartitions() == 3
    assert routed.filter(F.col("turn_rn") != F.col("turn_idx") + 1).count() == 0

def test_config_sample_and_tail_sampling(spark):
    from opentelemetry_collector_contrib_spark.fixtures import dims_dir, ensure_dims, ensure_tier
    from opentelemetry_collector_contrib_spark.plans.config import build_pipeline, build_tail_sampling

    ensure_dims()
    spec = {
        "source": {"path": ensure_tier("t1")},
        "parse": {"bank": "native"},
        "enrich": [{"dim_path": dims_dir() + "/role_dim.parquet", "key": "role",
                    "defaults": {"role_group": "unknown"}}],
        "routes": {"default": "general",
                   "table": [{"name": "errors", "condition": 'status == "err"', "mode": "move"}]},
        "sample": {"kind": "adaptive", "keys": ["pattern_id"], "target_per_key": 50,
                   "tiebreak_cols": ["conv_id", "turn_idx"]},
        "tail_sampling": {"policies": [{"name": "errs", "type": "status_code", "values": ["err"]}]},
    }
    routed = build_pipeline(spark, spec)
    counts = {r["pattern_id"]: r["n"] for r in
              routed.groupBy("pattern_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 50 for n in counts.values())
    verdicts = build_tail_sampling(routed, spec)
    assert set(verdicts.columns) >= {"conv_id", "errs", "sampled"}
    assert verdicts.count() > 0


def test_config_sample_validation():
    with pytest.raises(ValueError):
        validate_spec({"source": {"path": "x"}, "sample": {"kind": "bogus"}})
    with pytest.raises(ValueError):
        validate_spec({"source": {"path": "x"}, "sample": {"kind": "adaptive"}})
    with pytest.raises(ValueError):
        validate_spec({"source": {"path": "x"},
                       "tail_sampling": {"policies": [{"name": "x", "type": "nope"}]}})
    with pytest.raises(ValueError):
        validate_spec({"source": {"path": "x"},
                       "tail_sampling": {"policies": [{"name": "x", "type": "ottl_condition",
                                                       "condition": "BadFn(y)"}]}})


def test_merge_maps_null_source_is_noop(mapped):
    withb = mapped.withColumn(
        "kv2",
        F.when(F.col("id") == "a", F.create_map(F.lit("new"), F.lit("1"))),  # null for 'b'
    )
    out = apply_statements(withb, ['merge_maps(kv, kv2, "upsert")'])
    got = {r["id"]: _kv(r) for r in out.collect()}
    assert got["a"]["new"] == "1"
    assert got["b"]["lvl"] == "error"  # null source leaves target untouched


# --- lambda expressions (grammar.go:232,580; lambda.go; e2e_test.go:1629-1699)


@pytest.fixture(scope="module")
def lam_df(spark):
    return spark.createDataFrame(
        [(1, ["value1", "value2", "value1"], {"bar": "x", "baz": "y"}, [1, 2, 3]),
         (2, [], {}, [])],
        "id int, arr array<string>, m map<string,string>, nums array<int>",
    )


def test_lambda_filter_map_all_any_reduce(lam_df):
    out = apply_statements(lam_df, [
        'set(filtered, Filter(arr, (_, v) => v == "value1"))',        # e2e:1629
        'set(mapped, MapEach(arr, (i, v) => Concat("", String(i), ":", v)))',  # e2e:1643
        'set(all_ok, All(arr, (_, v) => v == "value1"))',             # e2e:1679
        'set(any_ok, Any(arr, (_, v) => v == "value1"))',             # e2e:1691
        'set(keys_up, MapKeys(m, (k) => Concat("", k, "_k")))',
        'set(total, Reduce(nums, 0, (acc, v) => acc + v))',
    ])
    r = {row["id"]: row for row in out.collect()}
    assert r[1]["filtered"] == ["value1", "value1"]
    assert r[1]["mapped"] == ["0:value1", "1:value2", "2:value1"]
    assert r[1]["all_ok"] is False and r[1]["any_ok"] is True
    assert r[1]["keys_up"] == {"bar_k": "x", "baz_k": "y"}
    assert r[1]["total"] == 6
    # empty-collection semantics: exists->false, forall->true, aggregate->init
    assert r[2]["any_ok"] is False and r[2]["all_ok"] is True and r[2]["total"] == 0


def test_lambda_body_sees_outer_columns(lam_df):
    out = apply_statements(lam_df, [
        'set(tagged, MapEach(arr, (_, v) => Concat("-", v, String(id))))',
    ])
    r = {row["id"]: row["tagged"] for row in out.collect()}
    assert r[1] == ["value1-1", "value2-1", "value1-1"]


def test_lambda_arity_and_binding_errors(lam_df):
    with pytest.raises(ValueError, match="declares 1 parameters"):
        parse_statement('set(x, Filter(arr, (v) => v == "a"))')
    with pytest.raises(ValueError, match="not bindable"):
        # forall cannot supply the index formal (use `_`)
        apply_statements(lam_df, ['set(x, All(arr, (i, v) => i > 0))'])
    with pytest.raises(ValueError, match="does not accept a lambda"):
        parse_statement('set(x, Len(arr, (i, v) => v))')
    with pytest.raises(ValueError, match="must not be another lambda"):
        parse_statement('set(x, Filter(arr, (i, v) => (a) => a))')


# --- context inference (context_inferrer.go:18-29) --------------------------


def test_context_prefixed_paths_resolve_like_bare(spark):
    from opentelemetry_collector_contrib_spark.functions.ottl_compiler import apply_statements

    df = spark.createDataFrame([("hello", 3)], "text string, sev int")
    a = apply_statements(df, ['set(out, log.body) where log.sev == 3'])
    b = apply_statements(df, ['set(out, body) where sev == 3'])
    assert a.collect() == b.collect()
    # indexed form: log.attributes["k"] ≡ attributes["k"] ≡ column k
    df2 = spark.createDataFrame([("v",)], "k string")
    c = apply_statements(df2, ['set(copied, log.attributes["k"])'])
    assert c.collect()[0]["copied"] == "v"


# --- round 5: full 16-editor statement dispatch ------------------------------
# Reference: ottlfuncs/functions.go:11-39 registers 16 editor factories.
# Round 4 dispatched 13; delete_index / flatten / stringify_all existed only
# as OTTL_FUNCTIONS entries, so configs pasting those statements parse-errored.


def test_all_16_editors_parse_from_statement_text():
    stmts = {
        "set": 'set(x, 1)',
        "delete_key": 'delete_key(x)',
        "keep_keys": 'keep_keys(x, y)',
        "replace_pattern": 'replace_pattern(x, "a", "b")',
        "replace_match": 'replace_match(x, "a*", "b")',
        "replace_all_patterns": 'replace_all_patterns(x, "value", "a", "b")',
        "replace_all_matches": 'replace_all_matches(x, "a*", "b")',
        "merge_maps": 'merge_maps(x, y, "upsert")',
        "limit": 'limit(x, 3)',
        "truncate_all": 'truncate_all(x, 4)',
        "append": 'append(x, "v")',
        "delete_matching_keys": 'delete_matching_keys(x, "^a")',
        "keep_matching_keys": 'keep_matching_keys(x, "^a")',
        "delete_index": 'delete_index(x, 1)',
        "flatten": 'flatten(x)',
        "stringify_all": 'stringify_all(x)',
    }
    assert len(stmts) == 16
    for editor, src in stmts.items():
        st = parse_statement(src)
        assert st.editor == editor, (editor, st.editor)


def test_editor_delete_index_flatten_stringify_semantics(mapped):
    df = mapped.withColumn(
        "nested", F.array(F.array(F.lit("a"), F.lit("b")), F.array(F.lit("c")))
    ).withColumn(
        "nums", F.create_map(F.lit("n"), F.length("kvs"), F.lit("m"), F.lit(7))
    )
    out = apply_statements(
        df,
        [
            "delete_index(arr, 0)",
            "flatten(nested)",
            "stringify_all(nums)",
        ],
    )
    row = out.filter(F.col("id") == "a").collect()[0]
    assert row["arr"] == []  # single element removed
    assert row["nested"] == ["a", "b", "c"]
    got = dict(row["nums"])
    assert got == {"n": str(len("lvl=info tool=search latency_ms=1234 status=ok")), "m": "7"}
    # values are genuinely strings now
    assert dict(out.schema["nums"].dataType.__dict__)["valueType"].typeName() == "string"


def test_editor_delete_index_where_condition(mapped):
    out = apply_statements(mapped, ['delete_index(arr, 0) where status == "err"'])
    got = {r["id"]: r["arr"] for r in out.collect()}
    assert got["b"] == []      # deleted
    assert got["a"] == ["x"]   # untouched


def test_editor_flatten_where_raises_type_guard(mapped):
    """A conditionally-applied type-changing edit cannot type a relational
    column — eager loud error, same validate_spec contract as
    keep_keys/delete_key under where. flatten would AnalysisException at
    plan time; stringify_all is WORSE: CaseWhen coercion would silently
    stringify every row and no-op the where-gate (round-5 review)."""
    import pytest as _pytest

    df = mapped.withColumn("nested", F.array(F.array(F.lit("a"))))
    with _pytest.raises(ValueError, match="flatten.*where"):
        apply_statements(df, ['flatten(nested) where status == "err"'])
    df2 = mapped.withColumn("nums", F.create_map(F.lit("n"), F.lit(7)))
    with _pytest.raises(ValueError, match="stringify_all.*where"):
        apply_statements(df2, ['stringify_all(nums) where status == "err"'])


def test_nil_comparisons_test_for_absence(spark):
    """`x == nil` is isNull(), `x != nil` is isNotNull(), on either side
    (pkg/ottl/compare.go:44-70); SQL `x = NULL` would match no row."""
    df = spark.createDataFrame([(1, None), (2, "warn")], "id int, sev string")

    def ids(cond):
        return sorted(r["id"] for r in df.filter(parse_condition(cond)).collect())

    assert ids("sev == nil") == [1]
    assert ids("nil == sev") == [1]
    assert ids("sev != nil") == [2]
    assert ids("nil != sev") == [2]
    assert ids("nil == nil") == [1, 2]
    assert ids("nil != nil") == []
    assert ids('sev == nil or sev == "warn"') == [1, 2]
    # the config.py docstring's own example: fill a missing severity
    out = apply_statements(df, ['set(sev, "unknown") where sev == nil'])
    assert {r["id"]: r["sev"] for r in out.collect()} == {1: "unknown", 2: "warn"}


def test_streaming_build_refuses_contract_and_order_partitions(spark):
    """A stream can be neither collected for a contract check nor totally
    ordered: both fail when the spec is compiled, before any query starts."""
    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    src = {"path": ensure_tier("t1")}
    contract = {"checks": [{"type": "not_null", "col": "conv_id"}]}
    with pytest.raises(ValueError, match="contract"):
        build_pipeline(spark, {"source": src, "contract": contract}, streaming=True)
    with pytest.raises(ValueError, match="order.partitions"):
        build_pipeline(spark, {"source": src, "order": {"partitions": 4}}, streaming=True)
    routed = build_pipeline(spark, {"source": src}, streaming=True)
    assert routed.isStreaming and "turn_rn" not in routed.columns

