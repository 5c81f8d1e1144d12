"""Property tests for the relabel engine: adversarial label values
(regex metacharacters, separators embedded in values, unicode), the
keep/drop partition invariant, and hashmod range/agreement."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.prom_relabel import relabel
from relabel_oracle import assert_matches_oracle, relabel_map

_VALUES = st.text(
    alphabet=st.sampled_from(list("abcXYZ019 .*+?()[]{}|\\^$;/=é中\n")), max_size=12
)
_MAPS = st.dictionaries(
    st.sampled_from(["job", "instance", "__address__", "app", "zone"]), _VALUES, max_size=5
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_MAPS, min_size=1, max_size=25))
def test_keep_drop_partition_and_hashmod_range(spark, rows):
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(rows)], "id int, labels map<string,string>"
    ).persist()
    total = df.count()

    # keep and drop with the same rule partition the input exactly
    rule = {"source_labels": ["job", "app"], "separator": ";", "regex": ".*[a\\\\].*"}
    kept = relabel(df, [{**rule, "action": "keep"}]).count()
    dropped = relabel(df, [{**rule, "action": "drop"}]).count()
    assert kept + dropped == total

    # hashmod lands in [0, modulus) and matches the reference md5 rule
    out = relabel(
        df,
        [{"action": "hashmod", "source_labels": ["__address__", "job"], "modulus": 97,
          "target_label": "shard"}],
    ).select("id", F.element_at("labels", F.lit("shard")).alias("shard")).collect()
    for r in out:
        shard = int(r["shard"])
        assert 0 <= shard < 97
        m = rows[r["id"]]
        val = ";".join([m.get("__address__", ""), m.get("job", "")])
        digest = hashlib.md5(val.encode()).digest()
        assert shard == int.from_bytes(digest[8:16], "big") % 97
    df.unpersist()


@settings(max_examples=5, deadline=None)
@given(st.lists(_MAPS, min_size=1, max_size=25))
def test_labeldrop_labelkeep_complementary(spark, rows):
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(rows)], "id int, labels map<string,string>"
    )
    regex = "__.*|app"
    dropped = {
        r["id"]: set((r["labels"] or {}).keys())
        for r in relabel(df, [{"action": "labeldrop", "regex": regex}]).collect()
    }
    kept = {
        r["id"]: set((r["labels"] or {}).keys())
        for r in relabel(df, [{"action": "labelkeep", "regex": regex}]).collect()
    }
    for i, m in enumerate(rows):
        assert dropped[i] | kept[i] == set(m.keys())
        assert dropped[i] & kept[i] == set()


@settings(max_examples=5, deadline=None)
@given(st.lists(_MAPS, min_size=1, max_size=25))
def test_replace_default_regex_copies_value(spark, rows):
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(rows)], "id int, labels map<string,string>"
    )
    out = relabel(
        df,
        [{"action": "replace", "source_labels": ["job"], "target_label": "job_copy"}],
    ).collect()
    for r in out:
        m = rows[r["id"]]
        got = dict(r["labels"] or {})
        expect = m.get("job", "")
        if expect == "" or any(c in expect for c in "\n\r  "):
            # empty expansion deletes; a line-terminator-bearing value
            # does not match '(.*)' at all ('.' excludes terminators
            # under RE2 and Java alike), so the rule is a no-op
            assert "job_copy" not in got
        else:
            assert got["job_copy"] == expect


# --- round 5: default-regex line-terminator semantics ------------------------
# '.' excludes line terminators under both RE2 and Java, so Prometheus's
# default '(.*)' does NOT match a newline-bearing value; the fast-path gates
# must agree with the anchored regex machine (the round-4 lit(True) shortcut
# did not — ADVICE r4).


def test_default_regex_rejects_line_terminators(spark):
    vals = ["plain", "", "with\nnl", "x1\n", "\r", "a b", "ab", "end "]
    df = spark.createDataFrame(
        [(i, {"job": v}) for i, v in enumerate(vals)],
        "id int, labels map<string,string>",
    )
    for regex, matches in [
        ("(.*)", lambda v: not any(c in v for c in "\n\r  ")),
        ("(.+)", lambda v: v != "" and not any(c in v for c in "\n\r  ")),
    ]:
        expect_keep = {i for i, v in enumerate(vals) if matches(v)}
        keep = [{"action": "keep", "source_labels": ["job"], "regex": regex}]
        for run in (relabel, relabel_map):
            kept = {r["id"] for r in run(df, keep).collect()}
            assert kept == expect_keep, (regex, run.__name__)
        assert_matches_oracle(df, keep)
        # replace with the default regex must be a no-op on non-matching rows
        out = assert_matches_oracle(
            df,
            [{"action": "replace", "source_labels": ["job"], "regex": regex,
              "target_label": "copy"}],
        )
        for i, v in enumerate(vals):
            if i in expect_keep and v != "":
                assert out[i].get("copy") == v, (regex, i)
            else:
                assert "copy" not in out[i], (regex, i)


def test_columnar_empty_touched_chain_is_pure_filter(spark):
    """A chain that touches no label (source-less keep/drop) must compile:
    with no label columns the reassembly has no column entries to add (a
    zero-element F.array() is array<null> and fails at plan time)."""
    df = spark.createDataFrame(
        [(0, {"a": "x"}), (1, {"a": "y"})], "id int, labels map<string,string>"
    )
    # regex "" full-matches the joined empty source -> keep everything
    rows = assert_matches_oracle(df, [{"action": "keep", "regex": ""}])
    assert rows == {0: {"a": "x"}, 1: {"a": "y"}}
    # regex "nope" matches nothing -> drop everything
    assert relabel(df, [{"action": "keep", "regex": "nope"}]).count() == 0


# --- round 4: engine equivalence under random rule chains --------------------

import random as _random


def _random_rules(rng):
    regexes = ["(.*)", "(.+)", "web(\\d+)", "__meta_(.+)", "ns-.*", "[0-5]",
               "(.+)/(.+)", "__(meta|tmp).*", "h.*p"]
    actions = ["replace", "keep", "drop", "lowercase", "uppercase", "hashmod",
               "labelmap", "labeldrop", "labelkeep", "keepequal", "dropequal"]
    rules = []
    for _ in range(rng.randint(1, 6)):
        a = rng.choice(actions)
        r = {"action": a, "regex": rng.choice(regexes)}
        srcs = rng.sample(["a", "b", "job", "__meta_x", "missing"], rng.randint(1, 2))
        if a in ("replace", "keep", "drop", "lowercase", "uppercase", "hashmod",
                 "keepequal", "dropequal"):
            r["source_labels"] = srcs
        if a == "replace":
            r["target_label"] = rng.choice(["t", "job", "$1", "x_$1"])
            r["replacement"] = rng.choice(["$1", "lit", "p_$1", ""])
        elif a in ("lowercase", "uppercase", "hashmod", "keepequal", "dropequal"):
            r["target_label"] = rng.choice(["t", "job", "a"])
        if a == "hashmod":
            r["modulus"] = rng.choice([2, 7, 64])
        if a == "labelmap":
            r["replacement"] = rng.choice(["m_$1", "$1"])
        rules.append(r)
    return rules


def _chain_fixture(spark, n, with_tmp=True):
    h = F.xxhash64("id")
    pairs = [
        F.lit("a"), F.concat(F.lit("web"), F.pmod(h, F.lit(4)).cast("string")),
        F.lit("b"), F.when(h % 3 == 0, F.concat(F.lit("ns-"), F.pmod(h, F.lit(5)).cast("string"))),
        F.lit("job"), F.lit("scrape"),
        F.lit("__meta_x"), F.pmod(h, F.lit(6)).cast("string"),
    ]
    if with_tmp:
        pairs += [F.lit("__tmp_y"), F.when(h % 2 == 0, F.lit("1/2"))]
    return spark.range(n).select(
        F.col("id"),
        F.map_filter(F.create_map(*pairs), lambda _k, v: v.isNotNull()).alias("labels"),
    ).persist()


def test_entries_engine_equals_map_engine_random_chains(spark):
    """50 random rule chains over a mixed label fixture: the engine must
    give the map oracle's rows and label values on every chain."""
    df = _chain_fixture(spark, 300)
    rng = _random.Random(424242)
    for trial in range(50):
        assert_matches_oracle(df, _random_rules(rng), context=trial)
    df.unpersist()


def test_columnar_engine_joins_random_equivalence_when_eligible(spark):
    """The random chains that name only static labels (no labelmap /
    labeldrop / labelkeep, no group-ref targets) run without a dynamic
    rule; their values must equal the map oracle's too."""
    df = _chain_fixture(spark, 200, with_tmp=False)
    rng = _random.Random(777)
    tested = 0
    for _ in range(60):
        rules = _random_rules(rng)
        eligible = all(
            r["action"] not in ("labelmap", "labeldrop", "labelkeep")
            and "$" not in r.get("target_label", "")
            for r in rules
        )
        if not eligible:
            continue
        tested += 1
        assert_matches_oracle(df, rules)
    assert tested >= 5  # the generator must actually produce eligible chains
    df.unpersist()


def test_auto_two_phase_mixed_chain_equals_entries(spark):
    """A mixed chain (static rules, then labelmap/labeldrop) over addresses
    that sometimes equal the instance label: the map oracle's kept rows and
    label values."""
    from opentelemetry_collector_contrib_spark.registry.telemetry import (
        _RELABEL_RULES,
    )

    h = F.xxhash64("id")
    addr = F.concat(F.lit("10.0."), F.pmod(h, F.lit(200)).cast("string"),
                    F.lit("."), F.pmod(h, F.lit(50)).cast("string"), F.lit(":9100"))
    df = spark.range(400).select(
        F.col("id"),
        F.map_filter(
            F.create_map(
                F.lit("__address__"), addr,
                F.lit("__scheme__"), F.when(h % 2 == 0, F.lit("http")).otherwise(F.lit("https")),
                F.lit("__meta_kubernetes_namespace"), F.concat(F.lit("ns-"), F.pmod(h, F.lit(5)).cast("string")),
                F.lit("__meta_kubernetes_pod_name"), F.concat(F.lit("pod-"), F.pmod(h, F.lit(7)).cast("string")),
                F.lit("__meta_kubernetes_pod_label_App"),
                F.when(h % 3 != 0, F.concat(F.lit("Web"), F.pmod(h, F.lit(4)).cast("string"))),
                F.lit("instance"), F.when(h % 11 == 0, addr),
                F.lit("job"), F.lit("scrape"),
            ),
            lambda _k, v: v.isNotNull(),
        ).alias("labels"),
    ).persist()
    out = assert_matches_oracle(df, _RELABEL_RULES)
    # the keep and dropequal gates both drop rows
    assert 0 < len(out) < 400
    df.unpersist()


def test_auto_engine_random_chains_value_equivalence(spark):
    """20 more random mixed chains (seed 31337): the map oracle's values."""
    df = _chain_fixture(spark, 200)
    rng = _random.Random(31337)
    for trial in range(20):
        assert_matches_oracle(df, _random_rules(rng), context=trial)
    df.unpersist()


def test_labelmap_collision_winner_engine_independent(spark):
    """Two source labels mapping to the SAME expanded target: Prometheus
    iterates canonically-sorted labels, so the sorted-last source wins,
    whether the sources are label columns or rest-map entries."""
    df = spark.createDataFrame(
        [(0, {"__meta_svc_app": "S", "__meta_pod_app": "P", "job": "j"})],
        "id int, labels map<string,string>",
    )
    rules = [
        {"action": "replace", "source_labels": ["job"], "target_label": "jc"},
        {"action": "hashmod", "source_labels": ["job"], "modulus": 4, "target_label": "shard"},
        {"action": "labelmap", "regex": "__meta_(?:pod|svc)_app", "replacement": "app"},
    ]
    # a rest-map source beating a column source, and the other way round
    pod_col = [{"action": "replace", "source_labels": ["__meta_pod_app"], "target_label": "pc"}]
    svc_col = [{"action": "replace", "source_labels": ["__meta_svc_app"], "target_label": "sc"}]
    got = {}
    for name, chain in (("rest", rules), ("pod_col", pod_col + rules), ("svc_col", svc_col + rules)):
        got[name] = assert_matches_oracle(df, chain)[0]["app"]
    # sorted source names: __meta_pod_app < __meta_svc_app -> svc folds last
    assert got == {"rest": "S", "pod_col": "S", "svc_col": "S"}, got
