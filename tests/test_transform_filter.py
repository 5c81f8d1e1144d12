"""attributesprocessor actions, stanza transformers, filters, samplers,
recombine/sessionization, tail sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import transform as tr
from opentelemetry_collector_contrib_spark.operators import filter as flt
from opentelemetry_collector_contrib_spark.operators.recombine import group_by_trace, recombine, tail_sampling


def test_attr_actions(spark):
    df = spark.createDataFrame([("v", None), (None, "w")], "a string, b string")
    out = tr.apply_attr_actions(
        df,
        [
            tr.AttrAction("insert", "a", value="filled"),       # only fills nulls
            tr.AttrAction("upsert", "c", value="new"),
            tr.AttrAction("copy", "x") if False else tr.AttrAction("convert", "a", converted_type="string"),
        ],
    )
    rows = out.orderBy("b").collect()
    assert {r["a"] for r in rows} == {"v", "filled"}
    assert all(r["c"] == "new" for r in rows)


def test_attr_hash_and_extract(spark):
    df = spark.createDataFrame([("secret", "id-123")], "pw string, ident string")
    out = tr.apply_attr_actions(
        df,
        [
            tr.AttrAction("hash", "pw"),
            tr.AttrAction("extract", "num", from_attribute="ident", pattern=r"id-(\d+)"),
        ],
    ).collect()[0]
    assert len(out["pw"]) == 64 and out["pw"] != "secret"
    assert out["num"] == "123"


def test_stanza_field_ops(spark):
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    assert tr.move(df, "b", "c").columns == ["a", "c"]
    assert tr.retain(df, ["b"]).columns == ["b"]
    assert "d" in tr.add(df, "d", 5).columns
    out = tr.flatten(df.withColumn("s", F.struct(F.lit(1).alias("x"), F.lit(2).alias("y"))), "s")
    assert set(out.columns) == {"a", "b", "x", "y"}


def test_redact(spark):
    df = spark.createDataFrame([("card 4111111111111111 used", "keepme")], "msg string, other string")
    out = tr.redact(df, masked_patterns={"msg": r"\d{16}"}).collect()[0]
    assert "4111111111111111" not in out["msg"] and "****" in out["msg"]


def test_unroll_explode(spark):
    df = spark.createDataFrame([(1, ["a", "b"])], "id int, arr array<string>")
    assert tr.unroll(df, "arr").count() == 2


def test_probabilistic_sampler_consistent(spark):
    df = spark.createDataFrame([(f"conv-{i}",) for i in range(1000)], "conv_id string")
    a = flt.probabilistic_sampler(df, "conv_id", 25.0)
    n1, n2 = a.count(), flt.probabilistic_sampler(df, "conv_id", 25.0).count()
    assert n1 == n2  # deterministic
    assert 150 < n1 < 350  # ~25%


def test_recombine_segments(spark):
    rows = [
        ("f1", 0, "START a", 1), ("f1", 1, "cont b", 0), ("f1", 2, "cont c", 0),
        ("f1", 3, "START d", 1), ("f2", 0, "START x", 1),
    ]
    df = spark.createDataFrame(rows, "src string, seq int, text string, first int")
    out = recombine(df, "src", "seq", F.col("first") == 1, combine_with=" ")
    got = {(r["src"], r["run_id"]): r["combined"] for r in out.collect()}
    assert got[("f1", 1)] == "START a cont b cont c"
    assert got[("f1", 2)] == "START d"
    assert got[("f2", 1)] == "START x"


def test_group_by_trace_ordered(spark):
    import datetime

    ts = datetime.datetime(2025, 1, 1)
    rows = [("c", 2, "third", ts), ("c", 0, "first", ts), ("c", 1, "second", ts)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, ts timestamp")
    out = group_by_trace(df).collect()[0]
    assert out["transcript"] == "first\nsecond\nthird"
    assert out["n_turns"] == 3


def test_tail_sampling_policies(spark):
    rows = [
        ("c1", "err", 10), ("c1", "ok", 5),       # has_error
        ("c2", "ok", 20000),                        # high latency
        ("c3", "ok", 5),                            # neither
    ]
    df = spark.createDataFrame(rows, "conv_id string, status string, latency_ms long")
    out = {r["conv_id"]: r["sampled"] for r in tail_sampling(df).collect()}
    assert out == {"c1": True, "c2": True, "c3": False}


def test_tail_sampling_policy_tree(spark):
    import datetime

    from opentelemetry_collector_contrib_spark.operators.recombine import tail_sampling_policies

    t0 = datetime.datetime(2025, 1, 1)

    def turns(conv, n, status="ok", tool="none", lat=10, spread_s=0):
        return [
            (conv, i, status, tool, lat, t0 + datetime.timedelta(seconds=(spread_s if i == n - 1 else 0)))
            for i in range(n)
        ]

    rows = (
        turns("a", 3, status="err")                      # errs
        + turns("b", 3, spread_s=700)                    # slow (latency >= 600s)
        + turns("c", 3, tool="search", status="err")     # errs + err_search
        + turns("d", 3)                                  # nothing
        + turns("e", 3, lat=9500)                        # slow_turn only (vote=False -> not sampled)
    )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, status string, tool string, latency_ms long, ts timestamp"
    )
    policies = [
        {"name": "errs", "type": "status_code", "values": ["err"]},
        {"name": "slow", "type": "latency", "threshold_ms": 600_000},
        {"name": "slow_turn", "type": "numeric_attribute", "key": "latency_ms", "min": 9000, "vote": False},
        {"name": "searchy", "type": "string_attribute", "key": "tool", "values": ["search"], "vote": False},
        {"name": "err_search", "type": "and", "of": ["errs", "searchy"]},
        {"name": "is_c", "type": "ottl_condition", "condition": 'conv_id == "c"', "vote": False},
        {"name": "drop_c", "type": "drop", "of": ["is_c"]},
    ]
    got = {r["conv_id"]: r for r in tail_sampling_policies(df, policies).collect()}
    assert got["a"]["sampled"] is True and got["a"]["errs"] is True
    assert got["b"]["sampled"] is True and got["b"]["slow"] is True
    # c matches errs AND err_search but the drop policy overrides
    assert got["c"]["err_search"] is True and got["c"]["sampled"] is False
    assert got["d"]["sampled"] is False
    # vote=False policies report but do not sample
    assert got["e"]["slow_turn"] is True and got["e"]["sampled"] is False
    # rate limiting: 5 one-turn convs in the same minute, cap at 2
    many = [(f"r{i}", 0, "err", "none", 1, t0) for i in range(5)]
    df2 = spark.createDataFrame(
        many, "conv_id string, turn_idx int, status string, tool string, latency_ms long, ts timestamp"
    )
    lim = tail_sampling_policies(
        df2, [{"name": "errs", "type": "status_code", "values": ["err"]}], rate_limit_per_minute=2
    )
    final = {r["conv_id"]: r["final_sampled"] for r in lim.collect()}
    assert sum(final.values()) == 2
    assert final["r0"] and final["r1"]  # deterministic preference by trace id


def test_recombine_max_batch_monster_conv(spark):
    from opentelemetry_collector_contrib_spark.operators.recombine import group_by_trace, recombine
    import datetime

    t0 = datetime.datetime(2025, 1, 1)
    # one pathological 2500-turn conversation, single run (is_first only at 0)
    rows = [("m", i, f"t{i}", i == 0, t0) for i in range(2500)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, is_first boolean, ts timestamp")
    out = recombine(df, "conv_id", "turn_idx", F.col("is_first"), max_batch=1000).orderBy("chunk_id").collect()
    assert [(r["chunk_id"], r["n_lines"]) for r in out] == [(0, 1000), (1, 1000), (2, 500)]
    # chunk boundaries respect turn order
    assert out[0]["combined"].split("\n")[0] == "t0"
    assert out[1]["combined"].split("\n")[0] == "t1000"
    assert out[2]["first_order"] == 2000 and out[2]["last_order"] == 2499
    # group_by_trace with the same bound
    gt = group_by_trace(df, max_batch=1000).orderBy("chunk_id").collect()
    assert [r["n_turns"] for r in gt] == [1000, 1000, 500]
    # unbounded path unchanged: one row, no chunk column
    whole = recombine(df, "conv_id", "turn_idx", F.col("is_first"))
    assert "chunk_id" not in whole.columns and whole.count() == 1


def test_adaptive_head_sampler(spark):
    rows = [("hot", i) for i in range(100)] + [("rare", 0), ("rare", 1)]
    df = spark.createDataFrame(rows, "k string, i int")
    out = flt.adaptive_head_sampler(df, ["k"], 10, tiebreak_cols=["k", "i"])
    counts = {r["k"]: r["n"] for r in out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    # hot key capped at target; rare key passes untouched
    assert counts == {"hot": 10, "rare": 2}
    # deterministic: same input -> same kept set
    a = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in flt.adaptive_head_sampler(df, ["k"], 10, tiebreak_cols=["k", "i"]).collect()}
    assert a == b


def test_tail_sampling_requires_voting_policy(spark):
    import pytest as pt

    from opentelemetry_collector_contrib_spark.operators.recombine import tail_sampling_policies

    import datetime

    df = spark.createDataFrame(
        [("c", "ok", datetime.datetime(2025, 1, 1))], "conv_id string, status string, ts timestamp"
    )
    with pt.raises(ValueError):
        tail_sampling_policies(
            df,
            [
                {"name": "h", "type": "status_code", "values": ["err"], "vote": False},
                {"name": "d", "type": "drop", "of": ["h"]},
            ],
        )


def test_match_properties_and_filter_match(spark):
    from opentelemetry_collector_contrib_spark.operators.filter import filter_match

    rows = [
        (1, "user", "ok"), (2, "assistant", "err"), (3, "system", "ok"),
        (4, "user", None), (5, None, "ok"),
    ]
    df = spark.createDataFrame(rows, "id int, role string, status string")
    out = filter_match(
        df,
        include={"match_type": "regexp", "attributes": [{"key": "role", "value": "^(user|assistant)$"}]},
        exclude={"match_type": "strict", "attributes": [{"key": "status", "value": "err"}]},
    )
    assert sorted(r["id"] for r in out.collect()) == [1, 4]  # NULL role/status never match
    # record matcher: severity_texts-style value lists
    out2 = filter_match(df, include={"record": {"status": ["ok"]}})
    assert sorted(r["id"] for r in out2.collect()) == [1, 3, 5]
    import pytest as _pt

    with _pt.raises(ValueError):
        filter_match(df)
    with _pt.raises(ValueError):
        filter_match(df, include={"match_type": "glob", "attributes": [{"key": "role"}]})


def test_severity_http_presets(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import severity_parser

    rows = [(1, "204"), (2, "301"), (3, "404"), (4, "503"), (5, "teapot"), (6, "warn"), (7, "1000")]
    df = spark.createDataFrame(rows, "id int, code string")
    out = {
        r["id"]: (r["severity_text"], r["severity_number"])
        for r in severity_parser(
            df, "code",
            mapping={"info": ["2xx"], "warn": ["3xx"], "error": ["4xx", "teapot"], "fatal": ["5xx"]},
        ).collect()
    }
    assert out[1] == ("INFO", 9) and out[2] == ("WARN", 13)
    assert out[3] == ("ERROR", 17) and out[4] == ("FATAL", 21)
    assert out[5] == ("ERROR", 17)          # custom literal alias
    assert out[6] == ("WARN", 13)           # builtin aliases still apply
    assert out[7] == (None, 0)              # out of every range


def test_filter_match_config_section(spark, dims):
    from opentelemetry_collector_contrib_spark.plans.config import build_pipeline, validate_spec

    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    spec = {
        "source": {"path": ensure_tier("t1")},
        "filter_match": {
            "include": {"match_type": "regexp", "attributes": [{"key": "role", "value": "^(user|assistant)$"}]},
        },
    }
    validate_spec(spec)
    out = build_pipeline(spark, spec)
    roles = {r["role"] for r in out.select("role").distinct().collect()}
    assert roles <= {"user", "assistant"}
    import pytest as _pt

    with _pt.raises(ValueError):
        validate_spec({"source": {"path": "x"}, "filter_match": {}})
    with _pt.raises(ValueError):
        validate_spec({"source": {"path": "x"},
                       "filter_match": {"include": {"match_type": "nope",
                                                    "attributes": [{"key": "a"}]}}})


# --- sumologicprocessor ------------------------------------------------------


def test_sumologic_translation_skips_existing_target(spark):
    from opentelemetry_collector_contrib_spark.operators.transform import sumologic_process

    df = spark.createDataFrame(
        [("otel-host", "pod-host", "svc-k8s", "svc-otel")],
        "`host.name` string, `k8s.pod.hostname` string, `k8s.service.name` string, `service.name` string",
    )
    out = sumologic_process(df)
    # host.name claimed `host` first; k8s.pod.hostname keeps its key.
    # k8s.service.name claimed `service` first; service.name keeps its key.
    assert set(out.columns) == {"host", "k8s.pod.hostname", "service", "service.name"}
    row = out.collect()[0]
    assert row["host"] == "otel-host" and row["service"] == "svc-k8s"


def test_sumologic_cloud_namespace_unmapped_is_null(spark):
    from opentelemetry_collector_contrib_spark.operators.transform import sumologic_process

    df = spark.createDataFrame([("aws_ec2",), ("gcp_compute",)], "`cloud.platform` string")
    rows = sumologic_process(df, translate_attributes=False).collect()
    got = {r["cloud.platform"]: r["cloud.namespace"] for r in rows}
    assert got == {"aws_ec2": "aws/ec2", "gcp_compute": None}


def test_sumologic_aggregate_drops_null_entries(spark):
    from opentelemetry_collector_contrib_spark.operators.transform import sumologic_process

    df = spark.createDataFrame([("x", None, "z")], "pod_a string, pod_b string, other string")
    out = sumologic_process(df, aggregate_attributes={"pods": "pod_"}).collect()[0]
    assert dict(out["pods"]) == {"a": "x"}
    assert "pod_a" not in out.asDict() and out["other"] == "z"


# ---------------------------------------------------------------------------
# geoipprocessor: CIDR-range lookup
# ---------------------------------------------------------------------------


def _geo_blocks(spark):
    return spark.createDataFrame(
        [
            ("10.5.0.0/16", "US", "austin"),
            ("11.0.0.0/8", "XX", "wide"),
            ("1.2.3.0/24", "FR", "paris"),
            ("9.9.9.9/32", "CH", "host"),
        ],
        "network string, country string, city string",
    )


def test_ipv4_to_long_edges(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import ipv4_to_long

    df = spark.createDataFrame(
        [("0.0.0.0",), ("255.255.255.255",), ("256.1.1.1",), ("1.2.3",),
         ("1.2.3.4.5",), ("01.002.3.4",), ("a.b.c.d",), (None,)],
        "ip string",
    )
    got = {r["ip"]: r["v"] for r in df.select("ip", ipv4_to_long("ip").alias("v")).collect()}
    assert got["0.0.0.0"] == 0
    assert got["255.255.255.255"] == 2**32 - 1
    assert got["01.002.3.4"] == 1 * 16777216 + 2 * 65536 + 3 * 256 + 4  # inet_aton leading zeros
    for bad in ("256.1.1.1", "1.2.3", "1.2.3.4.5", "a.b.c.d", None):
        assert got[bad] is None


def test_cidr_blocks_bucket_fanout(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import cidr_blocks

    prepared = cidr_blocks(_geo_blocks(spark), bucket_bits=16)
    counts = {r["network"]: r["n"] for r in prepared.groupBy("network").count().withColumnRenamed("count", "n").collect()}
    # /16 -> 1 bucket, /8 -> 256 buckets, finer than /16 -> 1 bucket
    assert counts == {"10.5.0.0/16": 1, "11.0.0.0/8": 256, "1.2.3.0/24": 1, "9.9.9.9/32": 1}
    row = prepared.filter(F.col("network") == "9.9.9.9/32").first()
    assert row["_start"] == row["_end"] == 9 * 16777216 + 9 * 65536 + 9 * 256 + 9
    # non-aligned base: start snaps DOWN to the block boundary
    snap = cidr_blocks(
        spark.createDataFrame([("10.5.7.9/16", "x")], "network string, v string")
    ).first()
    assert snap["_start"] == 10 * 16777216 + 5 * 65536
    assert snap["_end"] == snap["_start"] + 65536 - 1


def test_cidr_blocks_malformed_raises(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import cidr_blocks

    for bad in ("10.5.0.0/33", "299.0.0.0/8", "nope/8", "10.0.0.0/x"):
        df = spark.createDataFrame([(bad, "v")], "network string, v string")
        with pytest.raises(Exception, match="malformed CIDR"):
            cidr_blocks(df).collect()


def test_geoip_lookup_matches_and_misses(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import geoip_lookup

    df = spark.createDataFrame(
        [("1.2.3.4",), ("1.2.4.4",), ("10.5.255.1",), ("11.200.1.1",),
         ("9.9.9.9",), ("9.9.9.8",), ("240.0.0.9",), ("999.1.2.3",), (None,)],
        "ip string",
    )
    got = {r["ip"]: (r["country"], r["city"]) for r in geoip_lookup(df, "ip", _geo_blocks(spark)).collect()}
    assert got["1.2.3.4"] == ("FR", "paris")
    assert got["1.2.4.4"] == (None, None)          # outside the /24
    assert got["10.5.255.1"] == ("US", "austin")
    assert got["11.200.1.1"] == ("XX", "wide")     # /8 spans many buckets
    assert got["9.9.9.9"] == ("CH", "host")        # /32 exact host
    assert got["9.9.9.8"] == (None, None)
    for miss in ("240.0.0.9", "999.1.2.3", None):  # no block / invalid / null
        assert got[miss] == (None, None)
    # row count preserved (disjoint blocks -> at most one match each)
    assert geoip_lookup(df, "ip", _geo_blocks(spark)).count() == df.count()


def test_geoip_lookup_error_modes(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import geoip_lookup

    ok = spark.createDataFrame([("1.2.3.4",), (None,)], "ip string")
    bad = spark.createDataFrame([("999.1.2.3",)], "ip string")
    blocks = _geo_blocks(spark)
    # propagate: parseable + null pass, unparseable non-null fails the job
    assert geoip_lookup(ok, "ip", blocks, error_mode="propagate").count() == 2
    with pytest.raises(Exception, match="unresolvable IP"):
        geoip_lookup(bad, "ip", blocks, error_mode="propagate").collect()
    # ignore/silent: nulls through; bogus mode rejected
    assert geoip_lookup(bad, "ip", blocks, error_mode="silent").first()["country"] is None
    with pytest.raises(ValueError, match="error_mode"):
        geoip_lookup(bad, "ip", blocks, error_mode="warn")


def test_geoip_lookup_plan_is_broadcast_hash_join(spark):
    """The scale contract: bucketed equi-join must plan as BroadcastHashJoin
    (range residual as join condition), never BroadcastNestedLoopJoin."""
    from opentelemetry_collector_contrib_spark.operators.enrich import geoip_lookup

    df = spark.range(100).select(
        F.concat(F.lit("10.5."), (F.col("id") % 256).cast("string"), F.lit(".1")).alias("ip")
    )
    plan = geoip_lookup(df, "ip", _geo_blocks(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_redact_attributes_full_config(spark):
    """redactionprocessor map semantics (processor.go:330-381): class
    order ignored > redacted > allowed-value > masked-key > blocked-value,
    fail-closed allowlist, summary meta attributes."""
    from opentelemetry_collector_contrib_spark.operators.transform import redact_attributes

    df = spark.createDataFrame(
        [(1, {"name": "alice", "ssn": "123-45-6789", "token": "secret",
              "dropme": "x", "env": "prod", "ok": "123-45-6789"})],
        "i int, attrs map<string,string>",
    )
    out = redact_attributes(
        df,
        allowed_keys=["name", "ssn", "token", "env", "ok"],
        ignored_keys=["env"],
        allowed_values=["^123-45-6789$"],  # exempts `ok` AND `ssn` by value
        blocked_values=[r"\d{3}-\d{2}-\d{4}"],
        blocked_key_patterns=["^token$"],
        summary="debug",
    ).collect()[0]["attrs"]
    # allowed-value exemption fires BEFORE the blocked-value mask
    assert out["ssn"] == "123-45-6789" and out["ok"] == "123-45-6789"
    assert out["token"] == "****" and out["env"] == "prod"
    assert "dropme" not in out
    assert out["redaction.redacted.keys"] == "dropme"
    assert out["redaction.masked.keys"] == "token"
    assert out["redaction.allowed.keys"] == "ok,ssn"
    assert out["redaction.ignored.count"] == "1"


def test_redact_attributes_hash_and_silent(spark):
    import hashlib

    from opentelemetry_collector_contrib_spark.operators.transform import redact_attributes

    df = spark.createDataFrame(
        [(1, {"token": "secret", "msg": "id 123-45-6789 end"})],
        "i int, attrs map<string,string>",
    )
    out = redact_attributes(
        df,
        allow_all_keys=True,
        blocked_values=[r"\d{3}-\d{2}-\d{4}"],
        blocked_key_patterns=["^token$"],
        hash_function="md5",
        summary="silent",
    ).collect()[0]["attrs"]
    assert out["token"] == hashlib.md5(b"secret").hexdigest()
    # documented divergence: whole-value digest when a blocked match hit
    assert out["msg"] == hashlib.md5(b"id 123-45-6789 end").hexdigest()
    assert not any(k.startswith("redaction.") for k in out)


def test_tail_sampling_null_verdicts_read_as_no_match(spark):
    """A policy aggregating an all-NULL column yields a NULL verdict;
    it must read as 'no match' (false) — in mode='all' F.least would
    otherwise SKIP the NULL and sample a trace a never-matched policy
    should veto, and a single NULL policy would yield sampled=NULL,
    which filter(sampled) and filter(~sampled) BOTH drop (round-5
    review; matches the policy tree's _bool_any coalesce)."""
    from opentelemetry_collector_contrib_spark.operators.recombine import tail_sampling

    rows = [("c1", None, 6000), ("c1", None, 6000)]  # status all NULL
    df = spark.createDataFrame(rows, "conv_id string, status string, latency_ms long")
    pol = {
        "has_error": F.max((F.col("status") == "err").cast("int")) == 1,  # NULL
        "high_latency": F.sum("latency_ms") > 10000,                      # True
    }
    all_out = tail_sampling(df, policies=pol, mode="all").collect()[0]
    assert all_out["sampled"] is False  # NULL verdict vetoes the AND
    any_out = tail_sampling(df, policies=pol, mode="any").collect()[0]
    assert any_out["sampled"] is True
    single = tail_sampling(df, policies={"has_error": pol["has_error"]}).collect()[0]
    assert single["sampled"] is False  # not NULL

