"""Prometheus relabel_config engine — per-action semantics mirroring the
public Prometheus relabeling contract (receiver/prometheusreceiver
README.md:91-105 embeds it verbatim)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.prom_relabel import _compile, labels_csv, relabel
from relabel_oracle import assert_matches_oracle


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, m) for i, m in enumerate(rows)], "id int, labels map<string,string>"
    )


def _out(df, labels_col="labels"):
    return {
        r["id"]: dict(r[labels_col] or {})
        for r in df.select("id", labels_col).collect()
    }


def _replayed(df, rules):
    """``relabel`` on a cache hit: a first call compiles the chain and the
    second, returned, replays it."""
    relabel(df, rules)
    hits = _compile.cache_info().hits
    out = relabel(df, rules)
    assert _compile.cache_info().hits == hits + 1
    return out


def test_replace_sets_expands_and_deletes(spark):
    df = _df(spark, [{"a": "x1", "b": "y"}, {"a": "nope", "b": "y"}])
    out = _out(
        relabel(
            df,
            [
                {
                    "action": "replace",
                    "source_labels": ["a"],
                    "regex": "x(\\d+)",
                    "target_label": "t",
                    "replacement": "v${1}",
                }
            ],
        )
    )
    assert out[0]["t"] == "v1"
    assert "t" not in out[1]  # no match -> no-op

    # empty expansion deletes the target label
    out = _out(
        relabel(
            df,
            [
                {
                    "action": "replace",
                    "source_labels": ["b"],
                    "regex": "y",
                    "target_label": "a",
                    "replacement": "",
                }
            ],
        )
    )
    assert "a" not in out[0] and "a" not in out[1]


def test_replace_target_label_expansion(spark):
    df = _df(spark, [{"__meta_dc": "east"}])
    out = _out(
        relabel(
            df,
            [
                {
                    "action": "replace",
                    "source_labels": ["__meta_dc"],
                    "regex": "(.+)",
                    "target_label": "zone_$1",
                    "replacement": "on",
                }
            ],
        )
    )
    assert out[0]["zone_east"] == "on"


def test_keep_drop_and_equal_filters(spark):
    df = _df(spark, [{"job": "api"}, {"job": "db"}, {"job": "api", "alias": "api"}])
    assert set(_out(relabel(df, [{"action": "keep", "source_labels": ["job"], "regex": "api"}]))) == {0, 2}
    assert set(_out(relabel(df, [{"action": "drop", "source_labels": ["job"], "regex": "api"}]))) == {1}
    assert set(
        _out(relabel(df, [{"action": "keepequal", "source_labels": ["job"], "target_label": "alias"}]))
    ) == {2}
    assert set(
        _out(relabel(df, [{"action": "dropequal", "source_labels": ["job"], "target_label": "alias"}]))
    ) == {0, 1}


def test_hashmod_matches_reference_md5(spark):
    rows = [{"__address__": f"10.0.0.{i}:9100"} for i in range(16)]
    out = _out(
        relabel(
            _df(spark, rows),
            [
                {
                    "action": "hashmod",
                    "source_labels": ["__address__"],
                    "modulus": 1000,
                    "target_label": "shard",
                }
            ],
        )
    )
    for i, row in enumerate(rows):
        digest = hashlib.md5(row["__address__"].encode()).digest()
        expect = int.from_bytes(digest[8:16], "big") % 1000
        assert out[i]["shard"] == str(expect), i


def test_labelmap_and_label_filters(spark):
    df = _df(spark, [{"__meta_k8s_pod": "p1", "__meta_k8s_ns": "n1", "job": "j"}])
    out = _out(
        relabel(
            df,
            [{"action": "labelmap", "regex": "__meta_k8s_(.+)", "replacement": "k8s_$1"}],
        )
    )
    assert out[0]["k8s_pod"] == "p1" and out[0]["k8s_ns"] == "n1" and out[0]["job"] == "j"

    out = _out(relabel(df, [{"action": "labeldrop", "regex": "__meta_.*"}]))
    assert set(out[0]) == {"job"}
    out = _out(relabel(df, [{"action": "labelkeep", "regex": "job|__meta_k8s_pod"}]))
    assert set(out[0]) == {"job", "__meta_k8s_pod"}


def test_case_actions_and_missing_source(spark):
    df = _df(spark, [{"App": "WebAPI"}, {"other": "x"}])
    out = _out(
        relabel(
            df,
            [{"action": "lowercase", "source_labels": ["App"], "target_label": "app"}],
        )
    )
    assert out[0]["app"] == "webapi"
    assert "app" not in out[1]  # missing source -> empty -> delete/no-op

    out = _out(
        relabel(df, [{"action": "uppercase", "source_labels": ["App"], "target_label": "APP"}])
    )
    assert out[0]["APP"] == "WEBAPI"


def test_separator_join_and_chain(spark):
    df = _df(spark, [{"ns": "prod", "pod": "api-1"}])
    out = _out(
        relabel(
            df,
            [
                {
                    "action": "replace",
                    "source_labels": ["ns", "pod"],
                    "separator": "/",
                    "regex": "(.+)/(.+)",
                    "target_label": "job",
                    "replacement": "$1-$2",
                },
                {"action": "labeldrop", "regex": "ns|pod"},
            ],
        )
    )
    assert out[0] == {"job": "prod-api-1"}


def test_labels_csv_is_sorted(spark):
    df = _df(spark, [{"b": "2", "a": "1"}])
    row = df.select(labels_csv(F.col("labels")).alias("csv")).collect()[0]
    assert row["csv"] == "a=1,b=2"


def test_plan_stays_native(spark):
    """The whole chain is Column expressions — no Python stages, also
    when a cache hit replays it."""
    df = _df(spark, [{"a": "x"}])
    chained = _replayed(
        df,
        [
            {"action": "replace", "source_labels": ["a"], "regex": "(.+)", "target_label": "b", "replacement": "$1"},
            {"action": "labelmap", "regex": "(a)", "replacement": "m_$1"},
            {"action": "hashmod", "source_labels": ["a"], "modulus": 7, "target_label": "h"},
        ],
    )
    plan = chained._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_missing_group_refs_expand_empty_not_crash(spark):
    """RE2 ExpandString semantics: a $2 against a 1-group regex expands
    to "" (deleting the target on empty value) instead of aborting the
    job as raw Java replaceAll would."""
    df = _df(spark, [{"a": "x1", "t": "old"}])
    out = _out(
        relabel(
            df,
            [{"action": "replace", "source_labels": ["a"], "regex": "x(\\d+)",
              "target_label": "t", "replacement": "g$2"}],
        )
    )
    assert out[0]["t"] == "g"  # $2 -> ""
    out = _out(
        relabel(
            df,
            [{"action": "replace", "source_labels": ["a"], "regex": "x(\\d+)",
              "target_label": "t", "replacement": "${2}"}],
        )
    )
    assert "t" not in out[0]  # fully-empty expansion deletes


def test_trailing_newline_does_not_full_match(spark):
    """RE2's $ is end-of-text; Java's $ also matches before a final
    newline — anchors must be \\A..\\z so "x1\\n" is NOT kept by regex x1."""
    df = _df(spark, [{"a": "x1\n"}, {"a": "x1"}])
    kept = set(_out(relabel(df, [{"action": "keep", "source_labels": ["a"], "regex": "x1"}])))
    assert kept == {1}


def test_invalid_expanded_target_name_skips_rule(spark):
    """Prometheus validates the expanded target name (relabel.go
    target.IsValid()); an invalid name (here 'my-dc') skips the rule."""
    df = _df(spark, [{"a": "my-dc"}])
    out = _out(
        relabel(
            df,
            [{"action": "replace", "source_labels": ["a"], "regex": "(.+)",
              "target_label": "$1", "replacement": "on"}],
        )
    )
    assert out[0] == {"a": "my-dc"}  # no 'my-dc' label created


def test_merge_scrape_labels_honor_modes(spark):
    from opentelemetry_collector_contrib_spark.operators.prom_relabel import merge_scrape_labels

    df = spark.createDataFrame(
        [(0, {"job": "target-job", "instance": "i1"},
          {"job": "scraped-job", "metric_lbl": "x", "exported_job": "pre"})],
        "id int, target map<string,string>, scraped map<string,string>",
    )
    lo = df.select(
        merge_scrape_labels(F.col("target"), F.col("scraped"), honor_labels=False).alias("m")
    ).collect()[0]["m"]
    # target wins; conflicting scraped 'job' renamed exported_job
    # (last-write-wins over the pre-existing scraped exported_job)
    assert lo["job"] == "target-job" and lo["instance"] == "i1"
    assert lo["metric_lbl"] == "x"
    assert lo["exported_job"] in ("scraped-job", "pre")  # fold order: entries order, last wins
    hi = df.select(
        merge_scrape_labels(F.col("target"), F.col("scraped"), honor_labels=True).alias("m")
    ).collect()[0]["m"]
    # scraped wins; target's conflicting 'job' dropped, rest kept
    assert hi["job"] == "scraped-job" and hi["instance"] == "i1" and hi["metric_lbl"] == "x"


def test_entries_engine_equals_map_engine_full_matrix(spark):
    """All nine actions chained (the registry's scrape chain) over an
    expression-built label map: the same rows and label values as the map
    oracle, output keys canonically sorted."""
    from opentelemetry_collector_contrib_spark.registry.telemetry import _RELABEL_RULES

    out = assert_matches_oracle(_label_fixture(spark), _RELABEL_RULES)
    assert 0 < len(out) < 2000


_STATIC_RULES = [
    {"action": "replace", "source_labels": ["__meta_kubernetes_namespace", "__meta_kubernetes_pod_name"],
     "separator": "/", "regex": "(.+)/(.+)", "target_label": "job", "replacement": "$1/${2}"},
    {"action": "hashmod", "source_labels": ["__address__"], "modulus": 8, "target_label": "__tmp_shard"},
    {"action": "keep", "source_labels": ["__tmp_shard"], "regex": "[0-5]"},
    {"action": "lowercase", "source_labels": ["__meta_kubernetes_pod_label_App"], "target_label": "app"},
    {"action": "replace", "source_labels": ["app"], "regex": "web(\\d+)", "target_label": "tier",
     "replacement": "t$1"},
    {"action": "dropequal", "source_labels": ["instance"], "target_label": "__address__"},
    {"action": "uppercase", "source_labels": ["__scheme__"], "target_label": "scheme_uc"},
]


def _label_fixture(spark, n=2000):
    h = F.xxhash64("id")
    return spark.range(n).select(
        F.col("id"),
        F.map_filter(
            F.create_map(
                F.lit("__address__"), F.concat(F.lit("10.0."), F.pmod(h, F.lit(200)).cast("string"), F.lit(":9100")),
                F.lit("__scheme__"), F.when(h % 2 == 0, F.lit("http")).otherwise(F.lit("https")),
                F.lit("__meta_kubernetes_namespace"), F.concat(F.lit("ns-"), F.pmod(h, F.lit(5)).cast("string")),
                F.lit("__meta_kubernetes_pod_name"), F.concat(F.lit("pod-"), F.pmod(h, F.lit(7)).cast("string")),
                F.lit("__meta_kubernetes_pod_label_App"),
                F.when(h % 3 != 0, F.concat(F.lit("Web"), F.pmod(h, F.lit(4)).cast("string"))),
                F.lit("instance"), F.when(h % 11 == 0, F.lit("i")),
                F.lit("job"), F.lit("scrape"),
            ),
            lambda _k, v: v.isNotNull(),
        ).alias("labels"),
    )


def test_columnar_engine_value_equals_entries_on_static_chain(spark):
    """A static chain (every label it names is known when the plan is
    built): the same label values as the map oracle, keys sorted."""
    out = assert_matches_oracle(_label_fixture(spark), _STATIC_RULES)
    assert len(out) > 0


def test_columnar_engine_hot_path_is_codegen(spark):
    """Per-rule work on a static chain must be plain column expressions:
    the only higher-order functions allowed are the single extract/reassemble
    pair at the chain boundaries."""
    df = _label_fixture(spark, 10)
    out = _replayed(df, _STATIC_RULES)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # boundary ops only: one map_entries-based filter + one map_from_entries
    assert plan.count("map_from_entries") <= 2


def test_auto_engine_picks_columnar_when_eligible(spark):
    """One engine for every chain shape: a static chain keeps the codegen
    plan, and a dynamic one (labelmap) gives the oracle's values."""
    df = _label_fixture(spark, 300)
    static_plan = relabel(df, _STATIC_RULES)._jdf.queryExecution().executedPlan().toString()
    assert static_plan.count("map_from_entries") <= 2
    dyn = [{"action": "labelmap", "regex": "__meta_kubernetes_(.+)", "replacement": "k8s_$1"}]
    assert_matches_oracle(df, dyn)


def test_plan_grows_linearly_with_chain_length(spark):
    """Each rule starts from the state projected into real columns, so the
    optimized plan grows linearly with the chain: three copies of the
    scrape chain, and nine-rule chains whose labelmaps target names later
    rules read, stay within 3.5x of the scrape chain's plan. Without the
    projection the repeated-labelmap chain's plan is about 9x. Each plan
    is read on a cache hit, from the replayed chain."""
    from opentelemetry_collector_contrib_spark.registry.telemetry import _RELABEL_RULES

    k8s = [
        *_RELABEL_RULES[:6],  # ... labelmap __meta_kubernetes_(.+) -> k8s_$1
        {"action": "replace", "source_labels": ["k8s_namespace"], "target_label": "ns"},
        {"action": "keep", "source_labels": ["k8s_namespace"], "regex": "ns-[0-3]"},
        {"action": "replace", "source_labels": ["k8s_namespace", "ns"], "regex": "(.+);(.+)",
         "target_label": "k8s_namespace", "replacement": "$2"},
    ]
    relabel_twice = 3 * [
        {"action": "labelmap", "regex": "__meta_kubernetes_(.+)", "replacement": "k8s_$1"},
        {"action": "labelmap", "regex": "k8s_(.+)", "replacement": "k8s_$1"},
        {"action": "replace", "source_labels": ["k8s_k8s_namespace"], "target_label": "k8s_k8s_namespace",
         "replacement": "$1x"},
    ]
    df = _label_fixture(spark, 10)

    def plan_len(rules):
        return len(_replayed(df, rules)._jdf.queryExecution().optimizedPlan().toString())

    base = plan_len(_RELABEL_RULES)
    for rules in (3 * _RELABEL_RULES, k8s, relabel_twice):
        assert plan_len(rules) <= 3.5 * base, rules


def _py4j_commands(spark, monkeypatch) -> list:
    """Record the py4j commands the driver sends from now on. py4j's memory
    commands, which free earlier objects whenever Python's garbage collector
    runs, are left out, so the count does not depend on GC timing."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def recording(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", recording)
    return sent


def test_repeated_relabel_replays_the_compiled_chain(spark, monkeypatch):
    """The chain compiles once per rule set: a second call with equal rules
    (a fresh copy) on a different frame is a cache hit, makes under 10% of
    the first call's py4j round trips, and still equals the oracle."""
    from opentelemetry_collector_contrib_spark.registry.telemetry import _RELABEL_RULES

    # a rule no other test uses, so the first call compiles
    rules = [*_RELABEL_RULES, {"action": "labeldrop", "regex": "__compiled_once_.*"}]
    first_df, second_df = _label_fixture(spark, 2000), _label_fixture(spark, 1500)
    sent = _py4j_commands(spark, monkeypatch)
    misses = _compile.cache_info().misses
    relabel(first_df, rules)
    first = len(sent)
    assert _compile.cache_info().misses == misses + 1
    sent.clear()
    hits = _compile.cache_info().hits
    relabel(second_df, [dict(r) for r in rules])
    assert _compile.cache_info().hits == hits + 1
    assert len(sent) < 0.1 * first, (len(sent), first)
    monkeypatch.undo()
    assert_matches_oracle(second_df, rules)
    assert _compile.cache_info().misses == misses + 1


def test_changed_rules_or_labels_col_compile_a_fresh_chain(spark):
    """The cache key is a snapshot of the rules: a rule list changed in
    place after the first call compiles anew, as does another labels_col."""
    rules = [{"action": "replace", "source_labels": ["job"], "regex": "(.+)",
              "target_label": "env", "replacement": "first_$1"}]
    df = _df(spark, [{"job": "api"}])
    assert _out(relabel(df, rules))[0]["env"] == "first_api"
    misses = _compile.cache_info().misses
    rules[0]["replacement"] = "second_$1"
    assert _out(relabel(df, rules))[0]["env"] == "second_api"
    assert _compile.cache_info().misses == misses + 1
    other = df.withColumnRenamed("labels", "lbls")
    assert _out(relabel(other, rules, "lbls"), "lbls")[0] == {"job": "api", "env": "second_api"}
    assert _compile.cache_info().misses == misses + 2
