"""Parse-stage tests, mirroring the reference's table-driven parser tests
(pkg/stanza/operator/parser/regex/parser_test.go etc.) plus the
native-vs-vectorized implementation equivalence the reference can't have."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.parse import (
    parse_native,
    parse_vectorized,
    severity_parser,
    key_value_parser,
    time_parser,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")


def test_pattern_bank_first_match(spark):
    import datetime

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "tool", "LOG lvl=info tool=search latency_ms=42 status=ok", "search", ts),
        ("c1", 1, "system", "2025-01-01T00:00:01 [WARN] planner: something happened", "none", ts),
        ("c1", 2, "assistant", '{"event":"completion","tokens":128,"model":"alpha-1"}', "none", ts),
        ("c1", 3, "user", "free prose with no pattern at all", "none", ts),
        ("c1", 4, "tool", "LOG lvl= ??? broken line", "none", ts),
    ]
    out = parse_native(_mk(spark, rows)).orderBy("turn_idx").collect()
    assert [r["pattern_id"] for r in out] == ["kv", "syslog", "json", "raw", "raw"]
    assert out[0]["sev"] == "info" and out[0]["latency_ms"] == 42 and out[0]["status"] == "ok"
    assert out[1]["sev"] == "WARN" and out[1]["component"] == "planner"
    assert out[2]["event_name"] == "completion" and out[2]["tokens"] == 128 and out[2]["model"] == "alpha-1"
    assert out[3]["sev"] is None and out[3]["latency_ms"] is None


def test_native_equals_vectorized(t1):
    """Both parse implementations must agree row-for-row (the compile-once
    pandas bank vs the Catalyst bank)."""
    cols = ["conv_id", "turn_idx", "pattern_id", "sev", "latency_ms", "status",
            "event_name", "tokens", "model", "component", "message", "log_ts"]
    a = parse_native(t1).select(cols).orderBy("conv_id", "turn_idx")
    b = parse_vectorized(t1).select(cols).orderBy("conv_id", "turn_idx")
    assert a.collect() == b.collect()


def test_unparsed_fallback_rate(t1):
    """~2% of fixture rows are deliberately unparsable; they must land in
    pattern_id='raw', never error (on_error=send semantics)."""
    out = parse_native(t1)
    total = out.count()
    raw = out.filter(F.col("pattern_id") == "raw").count()
    assert raw > 0
    assert out.filter(F.col("pattern_id").isNull()).count() == 0
    assert raw < total  # most rows parse


def test_severity_aliases(spark):
    df = spark.createDataFrame([("warning",), ("err",), ("INFO",), ("panic",), ("unknown",)], "sev string")
    out = severity_parser(df, "sev").collect()
    got = {r["sev"]: (r["severity_text"], r["severity_number"]) for r in out}
    assert got["warning"] == ("WARN", 13)
    assert got["err"] == ("ERROR", 17)
    assert got["INFO"] == ("INFO", 9)
    assert got["panic"] == ("FATAL", 21)
    assert got["unknown"] == (None, 0)


def test_key_value_and_time_parser(spark):
    df = spark.createDataFrame([("k1=a k2=b", "2025-03-01T10:20:30")], "kvtext string, iso string")
    out = key_value_parser(df, "kvtext")
    row = out.collect()[0]
    assert row["kv"]["k1"] == "a" and row["kv"]["k2"] == "b"
    t = time_parser(df, "iso").collect()[0]["event_ts"]
    assert t.year == 2025 and t.second == 30


def test_jsonarray_parser(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import jsonarray_parser

    df = spark.createDataFrame([(1, '["a", "b", "c"]'), (2, "not json")], "id int, line string")
    out = {r["id"]: r["parsed_array"] for r in jsonarray_parser(df, "line").collect()}
    assert out[1] == ["a", "b", "c"]
    assert out[2] is None  # malformed -> null, the on_error=send analogue


def test_sanitize_utf8(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import sanitize_utf8

    df = spark.createDataFrame([(1, b"ok \xff end"), (2, b"plain")], "id int, payload binary")
    out = {r["id"]: r for r in sanitize_utf8(df, "payload", dest="s").collect()}
    assert out[1]["s"] == "ok � end" and out[1]["utf8_valid"] is False
    assert out[2]["s"] == "plain" and out[2]["utf8_valid"] is True


def test_syslog_rfc5424_parser(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import syslog_rfc5424_parser

    line = '<165>1 2024-01-02T03:04:05.000Z web01 app 1234 ID47 [ex@32473 iut="3" eventSource="app"] hello world'
    out = syslog_rfc5424_parser(spark.createDataFrame([(line,)], "line string"), "line").collect()[0]
    assert out["syslog_facility"] == 20 and out["syslog_severity"] == 5  # 165 = 20*8+5
    assert out["syslog_hostname"] == "web01" and out["syslog_procid"] == "1234"
    assert out["syslog_sd_id"] == "ex@32473"
    assert out["syslog_sd_params"] == 'eventSource="app",iut="3"'
    assert out["syslog_message"] == "hello world"


def test_syslog_rfc3164_parser(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import syslog_rfc3164_parser

    rows = [("<34>Jan 12 06:30:00 host1 sshd[815]: Failed password",),
            ("<13>Jan 12 06:30:01 host2 cron: job done",)]
    out = syslog_rfc3164_parser(spark.createDataFrame(rows, "line string"), "line").collect()
    a, b = sorted(out, key=lambda r: r["syslog_hostname"])
    assert (a["syslog_facility"], a["syslog_severity"]) == (4, 2)
    assert a["syslog_tag"] == "sshd" and a["syslog_pid"] == 815
    assert b["syslog_pid"] is None and b["syslog_message"] == "job done"


def test_split_octet_frames(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import split_octet_frames

    # second frame contains digits+spaces that would defeat any regex split
    payload = "5 hello9 a 1 b 2 c4 tail"
    out = split_octet_frames(spark.createDataFrame([(1, payload)], "id int, p string"), "p").collect()
    assert [(r["frame_idx"], r["frame"]) for r in out] == [(0, "hello"), (1, "a 1 b 2 c"), (2, "tail")]
    # byte counts, not chars: 2-byte UTF-8 char counts as 2
    p2 = "3 éx1 y"
    out2 = split_octet_frames(spark.createDataFrame([(1, p2)], "id int, p string"), "p").collect()
    assert [(r["frame_idx"], r["frame"]) for r in out2] == [(0, "éx"), (1, "y")]
    # corrupt framing: declared count exceeds remaining payload — the
    # fragment is dropped, never emitted silently truncated
    p3 = "5 hello99 short"
    out3 = split_octet_frames(spark.createDataFrame([(1, p3)], "id int, p string"), "p").collect()
    assert [(r["frame_idx"], r["frame"]) for r in out3] == [(0, "hello")]


def test_trace_parser(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import trace_parser

    good = "00-0af7651916cd43dd8448eb211c80319c-b7ad6b7169203331-01"
    rows = [(1, good), (2, "00-SHORT-bad-xx"), (3, good.upper())]
    out = {r["id"]: r for r in trace_parser(spark.createDataFrame(rows, "id int, tp string"), "tp").collect()}
    assert out[1]["trace_id"] == "0af7651916cd43dd8448eb211c80319c"
    assert out[1]["span_id"] == "b7ad6b7169203331"
    assert out[1]["trace_flags"] == 1 and out[1]["trace_sampled"] is True
    assert out[2]["trace_id"] is None and out[2]["trace_sampled"] is None
    assert out[3]["trace_id"] == out[1]["trace_id"]  # case-normalized


def test_syslog_rfc5424_bracket_in_message(spark):
    """']' in the message must not be swallowed into the SD capture."""
    from opentelemetry_collector_contrib_spark.operators.parse import syslog_rfc5424_parser

    line = '<34>1 2024-01-02T03:04:05Z host app 1 ID [ex@1 k="v"] error in map[foo] retry'
    out = syslog_rfc5424_parser(spark.createDataFrame([(line,)], "line string"), "line").collect()[0]
    assert out["syslog_sd_id"] == "ex@1"
    assert out["syslog_sd_params"] == 'k="v"'
    assert out["syslog_message"] == "error in map[foo] retry"
    # multi-element SD still parses
    line2 = '<34>1 2024-01-02T03:04:05Z h a p m [a@1 x="1"][b@2 y="2"] msg'
    out2 = syslog_rfc5424_parser(spark.createDataFrame([(line2,)], "line string"), "line").collect()[0]
    assert out2["syslog_sd_params"] == 'x="1",y="2"' and out2["syslog_message"] == "msg"


def test_syslog_rfc5424_escaped_bracket_in_sd(spark):
    """RFC5424 §6.3.3: ']' inside PARAM-VALUE is escaped as '\\]' and must
    stay inside the SD capture."""
    from opentelemetry_collector_contrib_spark.operators.parse import syslog_rfc5424_parser

    line = '<34>1 2024-01-02T03:04:05Z host app 1 ID [x@1 k="a\\]b"] hello world'
    out = syslog_rfc5424_parser(spark.createDataFrame([(line,)], "line string"), "line").collect()[0]
    assert out["syslog_sd_id"] == "x@1"
    assert out["syslog_message"] == "hello world"
    assert 'k="a\\]b"' in out["syslog_sd_params"]


def test_strptime_translation_and_epoch_layouts(spark):
    import datetime

    from opentelemetry_collector_contrib_spark.operators.parse import (
        strptime_to_spark,
        time_parser_layout,
    )

    assert strptime_to_spark("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss"
    assert strptime_to_spark("%b %e %H:%M:%S") == "MMM d HH:mm:ss"
    import pytest as pt
    with pt.raises(ValueError):
        strptime_to_spark("%Q")

    df = spark.createDataFrame([("2025-03-01T10:20:30", 1740824430, 1740824430123)],
                               "iso string, es long, ems long")
    t = time_parser_layout(df, "iso", "%Y-%m-%dT%H:%M:%S").collect()[0]["event_ts"]
    assert t == datetime.datetime(2025, 3, 1, 10, 20, 30)
    s = time_parser_layout(df, "es", "s", layout_type="epoch").collect()[0]["event_ts"]
    ms = time_parser_layout(df, "ems", "ms", layout_type="epoch").collect()[0]["event_ts"]
    assert s.year == 2025 and ms.microsecond == 123000


def test_csv_parser_dynamic_header(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import csv_parser_dynamic

    rows = [(1, "a,b,c", "1,2,3"), (2, "c,a,b", "30,10,20")]
    out = csv_parser_dynamic(
        spark.createDataFrame(rows, "id int, hdr string, line string"), "line", "hdr"
    )
    got = {r["id"]: dict(r["parsed_csv"]) for r in out.collect()}
    assert got[1] == {"a": "1", "b": "2", "c": "3"}
    assert got[2] == {"a": "10", "b": "20", "c": "30"}  # header order honored


def test_dynamic_csv_malformed_rows_yield_null(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import csv_parser_dynamic

    rows = [(1, "a,b,c", "1,2,3,4"),   # field-count mismatch
            (2, "a,a", "1,2"),          # duplicate header keys
            (3, "a,b", "1,2")]
    out = {r["id"]: r["parsed_csv"] for r in csv_parser_dynamic(
        spark.createDataFrame(rows, "id int, hdr string, line string"), "line", "hdr").collect()}
    assert out[1] is None and out[2] is None
    assert dict(out[3]) == {"a": "1", "b": "2"}
    # regex-metacharacter separator treated literally
    out2 = csv_parser_dynamic(
        spark.createDataFrame([(1, "a|b", "1|2")], "id int, hdr string, line string"),
        "line", "hdr", sep="|").collect()[0]["parsed_csv"]
    assert dict(out2) == {"a": "1", "b": "2"}


def test_epoch_parse_robustness(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import time_parser_layout
    import pytest as pt

    # non-numeric value -> null, not an ANSI cast crash
    df = spark.createDataFrame([("abc",), ("1740824430",)], "es string")
    got = [r["event_ts"] for r in time_parser_layout(df, "es", "s", layout_type="epoch").collect()]
    assert got[0] is None and got[1] is not None
    # ns epochs keep exact microseconds (no double round-trip)
    ns = spark.createDataFrame([(1740824430123456999,)], "ns long")
    t = time_parser_layout(ns, "ns", "ns", layout_type="epoch").collect()[0]["event_ts"]
    assert t.microsecond == 123456
    # %e space-padded day parses
    sy = spark.createDataFrame([("Mar  1 10:20:30",)], "s string")
    t2 = time_parser_layout(sy, "s", "%b %e %H:%M:%S").collect()[0]["event_ts"]
    assert (t2.month, t2.day) == (3, 1)
    with pt.raises(ValueError):
        time_parser_layout(sy, "s", "%Y", layout_type="strptme")


def test_time_parse_hardening(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import (
        strptime_to_spark,
        time_parser_layout,
    )

    # literal letter RUNS quote as one section
    assert strptime_to_spark("%H:%M:%S UTC") == "HH:mm:ss 'UTC'"
    df = spark.createDataFrame([("10:20:30 UTC",), ("garbage",)], "s string")
    got = [r["event_ts"] for r in time_parser_layout(df, "s", "%H:%M:%S UTC").collect()]
    assert got[0] is not None and got[1] is None  # bad row -> null, no ANSI abort
    # %e with a LEADING pad space (single-digit day at layout start)
    lead = spark.createDataFrame([(" 1 Mar 2026 10:20:30",)], "s string")
    t = time_parser_layout(lead, "s", "%e %b %Y %H:%M:%S").collect()[0]["event_ts"]
    assert (t.day, t.month) == (1, 3)
    # out-of-range epoch -> null, not ArithmeticException
    big = spark.createDataFrame([(9223372036854775807,), (1740824430,)], "es long")
    got2 = [r["event_ts"] for r in time_parser_layout(big, "es", "s", layout_type="epoch").collect()]
    assert got2[0] is None and got2[1] is not None


def test_otlp_json_logs(spark):
    """otlpjsonconnector unfold: one row per logRecord, resource/scope
    context attached, malformed and non-OTLP payloads dropped
    (connector/otlpjsonconnector logs_test.go:48,128)."""
    from opentelemetry_collector_contrib_spark.operators.parse import otlp_json_logs

    payload = (
        '{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name",'
        '"value":{"stringValue":"svc"}}]},"scopeLogs":[{"scope":{"name":"sc"},'
        '"logRecords":[{"timeUnixNano":"123","severityText":"INFO","severityNumber":9,'
        '"body":{"stringValue":"test log"},"attributes":[{"key":"n","value":{"intValue":"7"}}]},'
        '{"body":{"stringValue":"second"}}]}]}]}'
    )
    rows = [(1, payload), (2, '{"resourceLogs": [invalid json'), (3, "not otlp")]
    out = otlp_json_logs(
        spark.createDataFrame(rows, "id int, payload string"), "payload"
    ).collect()
    assert len(out) == 2  # rows 2 and 3 drop (error path)
    first = next(r for r in out if r["body"] == "test log")
    assert first["resource_attrs"] == {"service.name": "svc"}
    assert first["scope_name"] == "sc" and first["time_unix_nano"] == 123
    assert first["severity_text"] == "INFO" and first["log_attrs"] == {"n": "7"}
    second = next(r for r in out if r["body"] == "second")
    assert second["severity_text"] is None and second["log_attrs"] == {}


def test_otlp_json_malformed_time_and_dup_keys(spark):
    """Adversarial payloads must not kill the job: a non-numeric
    timeUnixNano is a per-record NULL, and duplicate attribute keys keep
    the first entry instead of raising DUPLICATED_MAP_KEY."""
    from opentelemetry_collector_contrib_spark.operators.parse import otlp_json_logs

    payload = (
        '{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{"scope":{"name":"s"},'
        '"logRecords":[{"timeUnixNano":"abc","body":{"stringValue":"bad time"},'
        '"attributes":[{"key":"k","value":{"stringValue":"first"}},'
        '{"key":"k","value":{"stringValue":"second"}}]}]}]}]}'
    )
    out = otlp_json_logs(
        spark.createDataFrame([(1, payload)], "id int, payload string"), "payload"
    ).collect()
    assert len(out) == 1
    assert out[0]["time_unix_nano"] is None
    assert out[0]["log_attrs"] == {"k": "first"}


def test_severity_http_preset_overlong_digit_run(spark):
    """An all-digit field longer than int range (trace id, epoch nanos)
    must not abort the parser under ANSI — it simply matches no range."""
    from opentelemetry_collector_contrib_spark.operators.parse import severity_parser

    df = spark.createDataFrame(
        [(1, "201"), (2, "99999999999999999999")], "id int, code string"
    )
    out = {
        r["id"]: r["severity_text"]
        for r in severity_parser(
            df, "code", mapping={"info": ["2xx"]}
        ).collect()
    }
    assert out[1] == "INFO" and out[2] is None


def test_parse_journald_fields_and_malformed(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import parse_journald

    df = spark.createDataFrame(
        [
            ('{"MESSAGE":"oom killed","PRIORITY":"2","__REALTIME_TIMESTAMP":"1704067200000000",'
             '"_HOSTNAME":"n1","_SYSTEMD_UNIT":"app.service"}',),
            ('{"MESSAGE":"hello","PRIORITY":"6"}',),
            ("not json at all",),
        ],
        "body string",
    )
    rows = parse_journald(df, "body").collect()
    assert rows[0]["jd_body"] == "oom killed"
    assert rows[0]["jd_severity"] == "FATAL" and rows[0]["jd_priority"] == 2
    assert rows[0]["jd_ts"].year == 2024 and rows[0]["jd_hostname"] == "n1"
    assert rows[0]["jd_unit"] == "app.service"
    # partial entry: missing fields are NULL, present ones parse
    assert rows[1]["jd_severity"] == "INFO" and rows[1]["jd_ts"] is None
    # malformed json -> all NULL (on_error=send), row survives
    assert rows[2]["jd_body"] is None and rows[2]["jd_severity"] is None


def test_resource_detection_env_system_override(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import resource_detection

    df = spark.createDataFrame(
        [("a", None), ("b", "keep-me")], "event string, host_name string"
    )
    env = {
        "OTEL_RESOURCE_ATTRIBUTES": "service.name=svc, deployment.environment=prod",
        "HOSTNAME": "detected-host",
    }
    # override=True (reference default): detected wins everywhere
    over = resource_detection(df, ("env", "system"), env=env).collect()
    assert {r["host_name"] for r in over} == {"detected-host"}
    assert {r["service_name"] for r in over} == {"svc"}
    assert {r["deployment_environment"] for r in over} == {"prod"}
    assert {r["os_type"] for r in over} == {"linux"}
    # override=False: existing non-null values survive, gaps fill
    fill = {r["event"]: r["host_name"]
            for r in resource_detection(df, ("system",), env=env, override=False).collect()}
    assert fill == {"a": "detected-host", "b": "keep-me"}


def test_wire_format_line_parsers(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import (
        parse_influx_line,
        parse_prometheus_text,
        parse_statsd,
    )

    st = spark.createDataFrame(
        [
            (1, "api.latency:123|ms|@0.5|#env:prod,user:3"),
            (2, "hits:42|c"),                      # no rate, no tags -> rate defaults 1.0
            (3, "gauge.x:-7.5|g|#b:2,a:1"),        # tags sort
            (4, "malformed junk"),
        ],
        "i long, body string",
    )
    out = {r["i"]: r for r in parse_statsd(st).collect()}
    assert out[1]["st_name"] == "api.latency" and out[1]["st_rate"] == 0.5
    assert out[1]["st_tags_csv"] == "env:prod,user:3"
    assert out[2]["st_type"] == "c" and out[2]["st_rate"] == 1.0 and out[2]["st_tags_csv"] is None
    assert out[3]["st_value"] == -7.5 and out[3]["st_tags_csv"] == "a:1,b:2"
    assert out[4]["st_name"] is None and out[4]["st_rate"] is None

    il = spark.createDataFrame(
        [
            (1, "cpu,host=a,dc=west usage=0.5,idle=99 1717171717123456789"),
            (2, "mem free=12i"),                   # no tags, no ts
            (3, "bad line protocol,,"),
        ],
        "i long, body string",
    )
    out = {r["i"]: r for r in parse_influx_line(il).collect()}
    assert out[1]["il_measurement"] == "cpu" and out[1]["il_tags_csv"] == "dc=west,host=a"
    assert out[1]["il_fields_csv"] == "idle=99,usage=0.5"
    # exact ns->us truncation, no double round-trip
    assert out[1]["il_ts"].microsecond == 123456
    assert out[2]["il_measurement"] == "mem" and out[2]["il_tags_csv"] is None
    assert out[2]["il_ts"] is None
    assert out[3]["il_measurement"] is None

    pm = spark.createDataFrame(
        [
            (1, 'http_requests_total{method="post",code="200"} 1027 1395066363000'),
            (2, "process_start_time_seconds 1.71e9"),
            (3, "# HELP not a sample"),
        ],
        "i long, body string",
    )
    out = {r["i"]: r for r in parse_prometheus_text(pm).collect()}
    assert out[1]["pm_name"] == "http_requests_total"
    assert out[1]["pm_labels_csv"] == "code=200,method=post" and out[1]["pm_value"] == 1027.0
    assert out[1]["pm_ts"] is not None
    assert out[2]["pm_value"] == 1.71e9 and out[2]["pm_labels_csv"] is None and out[2]["pm_ts"] is None
    assert out[3]["pm_name"] is None


def test_wire_format_adversarial_values_and_commas(spark):
    """Review regressions: half-numeric statsd values reject the WHOLE
    line; Prometheus label values containing commas/equals stay intact."""
    from opentelemetry_collector_contrib_spark.operators.parse import (
        parse_prometheus_text,
        parse_statsd,
    )

    st = spark.createDataFrame(
        [(1, "x:1.2.3|c"), (2, "y:--5|g"), (3, "z:1e3|ms")], "i long, body string"
    )
    out = {r["i"]: r for r in parse_statsd(st).collect()}
    assert out[1]["st_name"] is None and out[1]["st_type"] is None
    assert out[2]["st_name"] is None
    assert out[3]["st_value"] == 1000.0

    pm = spark.createDataFrame(
        [(1, 'm{a="2,z",b="x=1"} 5'), (2, 'm{q="0.99"} NaN')], "i long, body string"
    )
    out = {r["i"]: r for r in parse_prometheus_text(pm).collect()}
    assert out[1]["pm_labels_csv"] == "a=2,z,b=x=1"
    assert out[1]["pm_value"] == 5.0
    assert out[2]["pm_labels_csv"] == "q=0.99"

