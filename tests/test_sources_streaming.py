"""Tests for the source layer and the Structured Streaming operators."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.route import FIXTURE_ROUTES, apply_routes
from opentelemetry_collector_contrib_spark.sources import csv_file_source, file_source, json_file_source, kafka_source_options
from opentelemetry_collector_contrib_spark.streaming import (
    run_available_now,
    streaming_dedup,
    streaming_recombine,
    streaming_windowed_counts,
    transcripts_stream,
)


@pytest.fixture()
def logdir(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text("line1\nline2\nline3\n")
    (d / "b.log").write_text("other1\nother2\n")
    (d / "skip.txt").write_text("nope\n")
    return str(d)


def test_file_source_glob_and_provenance(spark, logdir):
    df = file_source(spark, logdir, glob="*.log")
    rows = df.collect()
    assert len(rows) == 5
    names = {r["log_file_name"] for r in rows}
    assert names == {"a.log", "b.log"}
    a = sorted([r for r in rows if r["log_file_name"] == "a.log"], key=lambda r: r["line_number"])
    assert [r["line"] for r in a] == ["line1", "line2", "line3"]
    assert [r["line_number"] for r in a] == [1, 2, 3]


def test_json_csv_sources(spark, tmp_path):
    j = tmp_path / "j.json"
    j.write_text("\n".join(json.dumps({"a": i, "b": f"x{i}"}) for i in range(3)))
    out = json_file_source(spark, str(j), "a bigint, b string").orderBy("a").collect()
    assert [r["a"] for r in out] == [0, 1, 2]
    c = tmp_path / "c.csv"
    c.write_text("a,b\n1,x\n2,y\n")
    out = csv_file_source(spark, str(c), "a int, b string").orderBy("a").collect()
    assert [(r["a"], r["b"]) for r in out] == [(1, "x"), (2, "y")]


def test_kafka_options_contract():
    opts = kafka_source_options("broker:9092", "logs", max_offsets_per_trigger=1000)
    assert opts["subscribe"] == "logs"
    assert opts["maxOffsetsPerTrigger"] == "1000"


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


@pytest.fixture()
def stream_input(tmp_path):
    """Transcript rows as a json-lines drop directory."""
    d = tmp_path / "in"
    d.mkdir()
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hello", "tool": "none", "ts": "2025-01-01T00:00:00.000Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "hi", "tool": "search", "ts": "2025-01-01T00:00:10.000Z"},
        {"conv_id": "c1", "turn_idx": 2, "role": "user", "text": "again", "tool": "none", "ts": "2025-01-01T00:01:05.000Z"},
        {"conv_id": "c1", "turn_idx": 3, "role": "assistant", "text": "sure", "tool": "none", "ts": "2025-01-01T00:01:06.000Z"},
        {"conv_id": "c2", "turn_idx": 0, "role": "user", "text": "dup", "tool": "none", "ts": "2025-01-01T00:00:01.000Z"},
        {"conv_id": "c2", "turn_idx": 0, "role": "user", "text": "dup", "tool": "none", "ts": "2025-01-01T00:00:01.000Z"},
    ]
    (d / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))
    return str(d)


def test_streaming_route_matches_batch(spark, stream_input, tmp_path, dims):
    from opentelemetry_collector_contrib_spark.operators.enrich import enrich_transcripts
    from opentelemetry_collector_contrib_spark.operators.parse import parse_native

    tool_dim, role_dim = dims

    def pipe(df):
        return apply_routes(enrich_transcripts(parse_native(df), tool_dim, role_dim), FIXTURE_ROUTES).select(
            "conv_id", "turn_idx", "route_id"
        )

    sdf = pipe(transcripts_stream(spark, stream_input + "/*.json"))
    assert sdf.isStreaming
    run_available_now(sdf, "routed_stream", str(tmp_path / "ck1"))
    got = {(r["conv_id"], r["turn_idx"]): r["route_id"] for r in spark.table("routed_stream").collect()}

    bdf = pipe(spark.read.schema("conv_id string, turn_idx int, role string, text string, tool string, ts timestamp").json(stream_input))
    want = {(r["conv_id"], r["turn_idx"]): r["route_id"] for r in bdf.collect()}
    assert got == want and len(got) == 5  # 6 rows, 1 exact-dup key pair


def test_streaming_windowed_counts(spark, stream_input, tmp_path):
    sdf = streaming_windowed_counts(transcripts_stream(spark, stream_input + "/*.json"), ["role"], "1 minute")
    run_available_now(sdf, "win_counts", str(tmp_path / "ck2"), output_mode="complete")
    rows = spark.table("win_counts").collect()
    by = {(str(r["window_start"]), r["role"]): r["log_count"] for r in rows}
    assert by[("2025-01-01 00:00:00", "user")] == 3  # c1 turn0 + 2 dup rows in c2
    assert by[("2025-01-01 00:01:00", "assistant")] == 1


def test_streaming_dedup(spark, stream_input, tmp_path):
    sdf = streaming_dedup(
        transcripts_stream(spark, stream_input + "/*.json"), ["conv_id", "turn_idx", "text"]
    )
    run_available_now(sdf, "dedup_stream", str(tmp_path / "ck3"))
    assert spark.table("dedup_stream").count() == 5


def test_streaming_recombine(spark, stream_input, tmp_path):
    src = transcripts_stream(spark, stream_input + "/*.json").withColumn(
        "is_first", F.col("role") == "user"
    )
    sdf = streaming_recombine(src.filter(F.col("conv_id") == "c1"), flush_timeout_ms=None)
    run_available_now(sdf, "recombined", str(tmp_path / "ck4"))
    rows = {r["run_id"]: r for r in spark.table("recombined").collect()}
    # segment 0 (hello, hi) closed by the second is_first row; segment 1
    # stays open in state awaiting the force-flush timeout
    assert 0 in rows
    assert rows[0]["combined"] == "hello\nhi"
    assert rows[0]["n_lines"] == 2


def test_streaming_sink_fanout(spark, stream_input, tmp_path, dims):
    from opentelemetry_collector_contrib_spark.operators.enrich import enrich_transcripts
    from opentelemetry_collector_contrib_spark.operators.parse import parse_native
    from opentelemetry_collector_contrib_spark.streaming.pipeline import write_stream_sinks

    tool_dim, role_dim = dims
    routed = apply_routes(
        enrich_transcripts(parse_native(transcripts_stream(spark, stream_input + "/*.json")), tool_dim, role_dim),
        FIXTURE_ROUTES,
    )
    base = str(tmp_path / "stream_sinks")
    q = write_stream_sinks(routed, base, str(tmp_path / "ck_sinks"), route_table=FIXTURE_ROUTES)
    q.awaitTermination()
    counts = {}
    for name in ("errors", "tool_events", "general", "human_turns"):
        try:
            counts[name] = spark.read.parquet(f"{base}/{name}").count()
        except Exception:
            counts[name] = 0
    # move sinks partition the 6 input rows exactly; human_turns is a copy
    assert counts["errors"] + counts["tool_events"] + counts["general"] == 6
    assert counts["human_turns"] >= 1


def test_streaming_sink_fanout_idempotent_replay(spark, stream_input, tmp_path, dims):
    """A replayed micro-batch (same batch_id) must overwrite its own output,
    not append duplicates — simulate replay by re-running the same
    availableNow input against a fresh checkpoint (batch 0 again)."""
    from opentelemetry_collector_contrib_spark.operators.enrich import enrich_transcripts
    from opentelemetry_collector_contrib_spark.operators.parse import parse_native
    from opentelemetry_collector_contrib_spark.streaming.pipeline import write_stream_sinks

    tool_dim, role_dim = dims
    base = str(tmp_path / "replay_sinks")

    def run(ck):
        routed = apply_routes(
            enrich_transcripts(parse_native(transcripts_stream(spark, stream_input + "/*.json")), tool_dim, role_dim),
            FIXTURE_ROUTES,
        )
        q = write_stream_sinks(routed, base, str(tmp_path / ck), route_table=FIXTURE_ROUTES)
        q.awaitTermination()

    run("ck_a")
    first = {n: spark.read.parquet(f"{base}/{n}").count() for n in ("errors", "tool_events", "general")}
    run("ck_b")  # replay of batch 0
    second = {n: spark.read.parquet(f"{base}/{n}").count() for n in ("errors", "tool_events", "general")}
    assert first == second


def test_streaming_recombine_state_continuity(spark, tmp_path):
    """run_id numbering must CONTINUE across restarts from the same
    checkpoint: segments closed in a later run must not collide with keys
    emitted earlier (the force-flush counter-preservation contract)."""
    d = tmp_path / "cont_in"
    d.mkdir()
    ck = str(tmp_path / "cont_ck")

    def write(name, rows):
        (d / name).write_text("\n".join(json.dumps(r) for r in rows))

    def row(i, role, text):
        return {"conv_id": "c1", "turn_idx": i, "role": role, "text": text,
                "tool": "none", "ts": f"2025-01-01T00:00:{i:02d}.000Z"}

    out_dir = str(tmp_path / "cont_out")

    def drain():
        src = transcripts_stream(spark, str(d) + "/*.json").withColumn(
            "is_first", F.col("role") == "user"
        )
        sdf = streaming_recombine(src, flush_timeout_ms=None)
        # file sink: supports checkpoint recovery (memory sink does not)
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["run_id"]: r["combined"] for r in spark.read.parquet(out_dir).collect()}

    # run 1: run 0 closes at the second user turn; run 1 stays in state
    write("b1.json", [row(0, "user", "a"), row(1, "assistant", "b"), row(2, "user", "c")])
    got1 = drain()
    assert got1 == {0: "a\nb"}
    # run 2 (same checkpoint): the new user turn closes the in-flight
    # segment; its key is its first row's order (turn 2) — no collision
    write("b2.json", [row(3, "assistant", "d"), row(4, "user", "e")])
    got2 = drain()
    assert got2 == {0: "a\nb", 2: "c\nd"}


def test_session_windows_batch_and_stream(spark, stream_input, tmp_path):
    from opentelemetry_collector_contrib_spark.streaming.pipeline import streaming_session_counts

    # batch semantics: c1 turns at 00:00:00, 00:00:10 then 00:01:05, 00:01:06
    # with a 30s gap -> two sessions of 2 turns each
    batch = spark.read.json(stream_input + "/*.json").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = streaming_session_counts(batch.filter(F.col("conv_id") == "c1"), ["conv_id"], gap="30 seconds")
    rows = sorted(out.collect(), key=lambda r: r["session_start"])
    assert [r["n_rows"] for r in rows] == [2, 2]
    assert rows[0]["session_end"] > rows[0]["last_ts"]  # gap extends past last event
    # streaming drain produces the same closed sessions
    sdf = streaming_session_counts(
        transcripts_stream(spark, stream_input + "/*.json").filter(F.col("conv_id") == "c1"),
        ["conv_id"],
        gap="30 seconds",
    )
    # complete mode: append would hold sessions open until the watermark
    # passes their end, which a single availableNow drain never reaches
    run_available_now(sdf, "sessions", str(tmp_path / "ck_sess"), output_mode="complete")
    srows = sorted(spark.table("sessions").collect(), key=lambda r: r["session_start"])
    assert [(r["session_start"], r["n_rows"]) for r in srows] == [
        (r["session_start"], r["n_rows"]) for r in rows
    ]


def test_streaming_tail_sampling(spark, stream_input, tmp_path):
    from opentelemetry_collector_contrib_spark.streaming.pipeline import streaming_tail_sampling

    policies = [
        {"name": "many", "type": "span_count", "min": 2},
        {"name": "usery", "type": "string_attribute", "key": "role", "values": ["user"], "vote": False},
        {"name": "busy_user", "type": "and", "of": ["many", "usery"]},
    ]
    # batch semantics first: c1 splits into two 30s-gap sessions of 2 turns
    batch = spark.read.json(stream_input + "/*.json").withColumn("ts", F.col("ts").cast("timestamp"))
    out = streaming_tail_sampling(batch, policies, gap="30 seconds")
    rows = sorted(out.filter(F.col("conv_id") == "c1").collect(), key=lambda r: r["session_start"])
    assert [r["many"] for r in rows] == [True, True]
    assert all(r["sampled"] for r in rows)
    # stream drain agrees
    sdf = streaming_tail_sampling(
        transcripts_stream(spark, stream_input + "/*.json"), policies, gap="30 seconds"
    )
    run_available_now(sdf, "ts_verdicts", str(tmp_path / "ck_tsv"), output_mode="complete")
    srows = spark.table("ts_verdicts").filter(F.col("conv_id") == "c1").collect()
    assert len(srows) == 2 and all(r["sampled"] for r in srows)


def test_streaming_grok_and_curation_match_batch(spark, tmp_path):
    """Round-3 operators are stateless projections, so they compose with
    readStream unchanged: grok parse + gopher gate + PII scrub over an
    availableNow drain must equal the batch run on the same files."""
    import json as _json

    from opentelemetry_collector_contrib_spark.operators.curation import gopher_filter, pii_scrub
    from opentelemetry_collector_contrib_spark.operators.grok import grok_parser

    d = tmp_path / "gin"
    d.mkdir()
    rows = [
        {"id": 1, "line": "2024-01-02T03:04:05Z [warn] host1 mail bob@example.com ok"},
        {"id": 2, "line": "no match at all"},
        {"id": 3, "line": "2024-02-03 11:22:33 [ERROR] 10.0.0.9 call 555-123-4567 now"},
    ]
    (d / "b.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = "id int, line string"
    PAT = r"%{TIMESTAMP_ISO8601:ts} \[%{LOGLEVEL:lvl}\] %{IPORHOST:host} %{GREEDYDATA:msg}"

    def pipe(df):
        out = pii_scrub(gopher_filter(grok_parser(df, "line", PAT), "line"), "line")
        return out.select("id", "ts", "lvl", "host", "gopher_pass",
                          "pii_email_count", "pii_phone_count", "line_scrubbed")

    sdf = pipe(spark.readStream.schema(schema).json(str(d)))
    assert sdf.isStreaming
    (
        sdf.writeStream.format("memory").queryName("grok_stream")
        .option("checkpointLocation", str(tmp_path / "gck"))
        .trigger(availableNow=True).start().awaitTermination(60)
    )
    got = sorted(tuple(r) for r in spark.table("grok_stream").collect())
    want = sorted(tuple(r) for r in pipe(spark.read.schema(schema).json(str(d))).collect())
    assert got == want and len(got) == 3
    by_id = {t[0]: t for t in got}
    assert by_id[1][5] == 1 and "<EMAIL>" in by_id[1][7]
    assert by_id[3][6] == 1 and "<PHONE>" in by_id[3][7]
    assert by_id[2][1] is None  # unmatched grok row -> null fields


def test_generate_source_static_and_sequenced(spark):
    from opentelemetry_collector_contrib_spark.sources.file_source import generate_source

    rows = generate_source(spark, 3, {"body": "x", "sev": "INFO"}).collect()
    assert len(rows) == 3 and all(r["body"] == "x" and r["sev"] == "INFO" for r in rows)
    assert "seq" not in rows[0].asDict()
    seq = sorted(r["seq"] for r in generate_source(spark, 4, {"body": "x"}, static=False).collect())
    assert seq == [0, 1, 2, 3]


def test_streaming_keep_first_dedup_matches_batch(spark, tmp_path):
    """Documents stream in file-sized micro-batches; only novel docs reach
    the sink, state persists in the snapshot store, and the union of novel
    outputs equals the one-shot keep-first rule — including a REPLAYED
    batch (crash between state commit and checkpoint) staying idempotent."""
    from pyspark.sql import functions as FF

    from opentelemetry_collector_contrib_spark.operators.dedup import dedup_keep_first
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_keep_first_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    indir = str(tmp_path / "in")
    # three id-ordered file drops = three micro-batches (maxFilesPerTrigger=1)
    for i, (lo, hi) in enumerate(((0, 15), (15, 30), (30, 10**9))):
        docs.filter((FF.col("doc_id") >= lo) & (FF.col("doc_id") < hi)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{indir}/drop{i}")
    # register files under one glob-able dir
    import glob
    import os
    import shutil

    os.makedirs(f"{indir}/all", exist_ok=True)
    for i in range(3):
        for j, f in enumerate(sorted(glob.glob(f"{indir}/drop{i}/*.parquet"))):
            shutil.copy(f, f"{indir}/all/{i:02d}_{j}.parquet")

    out = str(tmp_path / "out")
    q = streaming_keep_first_dedup(
        spark, f"{indir}/all", out, str(tmp_path / "ckpt"), threshold=0.4
    )
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(f"{out}/novel").collect()}
    want = {r["doc_id"] for r in dedup_keep_first(docs, "doc_id", threshold=0.4).collect()}
    assert got == want

    # replay the LAST batch against the already-committed state (the crash-
    # between-state-commit-and-checkpoint case): its novel output must be
    # IDENTICAL to the original batch's, not empty — the id-ordered cross
    # match keeps a doc from matching its own state entry
    last = sorted(glob.glob(f"{indir}/all/*.parquet"))[-1]
    rdir = str(tmp_path / "replay_in")
    os.makedirs(rdir, exist_ok=True)
    shutil.copy(last, f"{rdir}/00.parquet")
    out2 = str(tmp_path / "out2")
    shutil.copytree(f"{out}/state", f"{out2}/state")
    q2 = streaming_keep_first_dedup(
        spark, rdir, out2, str(tmp_path / "ckpt2"), threshold=0.4
    )
    q2.awaitTermination(120)
    got2 = {r["doc_id"] for r in spark.read.parquet(f"{out2}/novel").collect()}
    assert got2 == {d for d in want if d >= 30}


def test_streaming_keep_first_dedup_rejects_out_of_order_new_docs(spark, tmp_path):
    """A genuinely NEW doc id below the committed high-water mark means the
    source delivered drops out of id order — keep-first is order-dependent,
    so the batch must fail loudly instead of emitting verdicts that silently
    diverge from the one-shot rule. (Replayed already-indexed docs are the
    legitimate below-mark case and are covered by the test above.)"""
    import shutil

    from pyspark.sql import functions as FF

    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_keep_first_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    indir = str(tmp_path / "in1")
    docs.filter((FF.col("doc_id") >= 15) & (FF.col("doc_id") < 30)).coalesce(1).write.parquet(indir)
    out = str(tmp_path / "out")
    q = streaming_keep_first_dedup(spark, indir, out, str(tmp_path / "ckpt1"), threshold=0.4)
    q.awaitTermination(120)

    # second run against the committed state: ids < 15 are new AND below
    # the high-water mark (29) -> the foreachBatch guard must abort
    indir2 = str(tmp_path / "in2")
    docs.filter(FF.col("doc_id") < 15).coalesce(1).write.parquet(indir2)
    out2 = str(tmp_path / "out2")
    shutil.copytree(f"{out}/state", f"{out2}/state")
    q2 = streaming_keep_first_dedup(
        spark, indir2, out2, str(tmp_path / "ckpt2"), threshold=0.4
    )
    with pytest.raises(Exception, match="high-water mark"):
        q2.awaitTermination(120)


def test_wire_spool_source_batch_stream_and_unknown(spark, tmp_path):
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators.fluent import (
        synthesize_fluent_payloads,
    )
    from opentelemetry_collector_contrib_spark.sources.file_source import wire_spool_source

    df = spark.range(6).select(F.col("id").alias("event_id"), F.lit("T").alias("event_type"))
    spool = str(tmp_path / "ws")
    synthesize_fluent_payloads(df, cols={"etype": "event_type"}).write.parquet(spool)
    batch = wire_spool_source(spark, spool, "fluent_forward")
    assert batch.count() == 10  # 2 message + 2x2 forward + 2x2 packed
    stream = wire_spool_source(spark, spool, "fluent_forward", streaming=True)
    assert stream.isStreaming and stream.schema == batch.schema
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown wire format"):
        wire_spool_source(spark, spool, "nope")


def test_filelog_header_metadata(spark):
    from opentelemetry_collector_contrib_spark.sources.file_source import filelog_header_metadata

    rows = [
        # file A: 3-line header with an upsert, then data; a later '#' line
        # is NOT header (prefix semantics)
        ("A", 1, "# host=h1"),
        ("A", 2, "# region=r2"),
        ("A", 3, "# host=h9"),
        ("A", 4, "msg one"),
        ("A", 5, "# stray"),
        # file B: no header at all
        ("B", 1, "plain"),
        # file C: all lines are header -> file emits nothing
        ("C", 1, "# host=x"),
    ]
    df = spark.createDataFrame(rows, "file_name string, line_no int, text string")
    out = filelog_header_metadata(
        df,
        header_pattern="^#",
        metadata_regex=r"^# (host=(?P<host>\S+)|region=(?P<region>\S+))$",
    )
    got = {(r["file_name"], r["line_no"]): r for r in out.collect()}
    assert set(got) == {("A", 4), ("A", 5), ("B", 1)}
    # upsert: the LAST host header line wins; region survives alongside
    assert got[("A", 4)]["header_attrs"] == {"host": "h9", "region": "r2"}
    assert got[("A", 5)]["header_attrs"] == {"host": "h9", "region": "r2"}
    assert got[("A", 5)]["text"] == "# stray"  # post-header '#' line is data
    assert got[("B", 1)]["header_attrs"] == {}


def test_streaming_sink_fanout_with_dlq(spark, stream_input, tmp_path):
    """Micro-batch quarantine through the spec's dlq section: content-failure
    rows land in the DLQ sink with reasons; route sinks, the human_turns
    copy included, receive only accepted rows; totals conserve. The six
    stream_input lines are free text ('unparsed'); three parsed lines are
    added, one of them a tool call without a status."""
    from opentelemetry_collector_contrib_spark.plans.config import (
        build_pipeline,
        route_table_from_spec,
    )
    from opentelemetry_collector_contrib_spark.plans.dlq import FIXTURE_DLQ_RULES
    from opentelemetry_collector_contrib_spark.plans.pipeline import fixture_spec
    from opentelemetry_collector_contrib_spark.streaming.pipeline import write_stream_sinks

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    extra = spark.createDataFrame(
        [
            ("c3", 0, "user", "LOG lvl=info tool=none latency_ms=5 status=ok", "none"),
            ("c3", 1, "assistant", "LOG lvl=info tool=search latency_ms=20 status=ok", "search"),
            ("c3", 2, "assistant", '{"event":"retry","tokens":12,"model":"g"}', "search"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    src = str(tmp_path / "stream_pq")
    spark.read.schema(schema).json(stream_input).unionByName(extra).write.parquet(src)
    spec = {
        **fixture_spec("sf0.001"),
        "source": {"path": src},
        "dlq": {"rules": FIXTURE_DLQ_RULES},
    }
    routed = build_pipeline(spark, spec, streaming=True)
    assert routed.isStreaming
    base = str(tmp_path / "stream_sinks_dlq")
    q = write_stream_sinks(
        routed, base, str(tmp_path / "ck_sinks_dlq"), route_table=route_table_from_spec(spec)
    )
    q.awaitTermination()

    def cnt(name):
        try:
            return spark.read.parquet(f"{base}/{name}").count()
        except Exception:
            return 0

    move_total = cnt("errors") + cnt("tool_events") + cnt("general")
    dlq = cnt("quarantine")
    assert move_total + dlq == 9  # move sinks + DLQ partition the input
    bad = spark.read.parquet(f"{base}/quarantine")
    reasons = {r.error_reason: r["count"] for r in bad.groupBy("error_reason").count().collect()}
    assert reasons == {"unparsed": 6, "missing_tool_status": 1}
    assert (cnt("tool_events"), cnt("general"), cnt("human_turns")) == (1, 1, 1)
    for name in ("errors", "tool_events", "general", "human_turns"):
        if cnt(name):
            sink = spark.read.parquet(f"{base}/{name}")
            assert sink.filter(F.col("error_reason").isNotNull()).count() == 0


def test_streaming_curation_gate_equals_batch(spark, tmp_path):
    """Conversations arrive split across micro-batches; the final streamed
    verdict table equals the one-shot gate over everything seen, and a
    replayed run (same checkpoint) changes nothing."""
    import datetime as dt

    from opentelemetry_collector_contrib_spark.operators.conv_qa import (
        transcript_curation_gate,
    )
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_curation_gate,
    )

    ts = dt.datetime(2026, 1, 1)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    err = "LOG lvl=info tool=search latency_ms=1 status=err"
    batches = [
        # batch 0: conv a opens; conv b complete (dup of a's eventual shape? no — own)
        [("a", 0, "user", "hi", "none", ts), ("b", 0, "user", "hi", "none", ts), ("b", 1, "assistant", "hello", "none", ts)],
        # batch 1: conv a continues (now identical to b); conv c with failures
        [("a", 1, "assistant", "hello", "none", ts), ("c", 0, "user", "go", "none", ts), ("c", 1, "assistant", err, "search", ts)],
        # batch 2: conv c keeps failing past the cap
        [("c", 2, "tool", err, "search", ts), ("c", 3, "tool", err, "search", ts)],
    ]
    src = tmp_path / "in"
    src.mkdir()
    all_rows = []
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}.parquet"))
        all_rows += rows

    out = str(tmp_path / "gate_out")
    q = streaming_curation_gate(spark, str(src) + "/*", out, str(tmp_path / "ck"))
    q.awaitTermination()

    # latest verdict partition = the final full table
    import os

    last = sorted(os.listdir(f"{out}/verdicts"))[-1]
    streamed = {
        r.conv_id: (r.n_turns, r.qa_pass, r.is_dup, r.max_chain_failures, r.eligible)
        for r in spark.read.parquet(f"{out}/verdicts/{last}").collect()
    }
    batch_df = spark.createDataFrame(all_rows, schema)
    expected = {
        r.conv_id: (r.n_turns, r.qa_pass, r.is_dup, r.max_chain_failures, r.eligible)
        for r in transcript_curation_gate(batch_df).collect()
    }
    assert streamed == expected
    assert streamed["b"][2] is True or streamed["a"][2] is True  # a/b dup pair resolved
    assert streamed["c"][4] is False  # 3-failure chain blocks eligibility

    # replay with the same checkpoint: no new work, verdicts unchanged
    q2 = streaming_curation_gate(spark, str(src) + "/*", out, str(tmp_path / "ck"))
    q2.awaitTermination()
    streamed2 = {
        r.conv_id: (r.n_turns, r.qa_pass, r.is_dup, r.max_chain_failures, r.eligible)
        for r in spark.read.parquet(f"{out}/verdicts/{last}").collect()
    }
    assert streamed2 == streamed


def test_streaming_template_diff_matches_batch_and_replays(spark, tmp_path):
    """Masked-template alert stream: 'new' fires exactly once per template
    (in its first batch), history equals the one-shot census after the
    drain, and a replayed batch (crash between state commit and checkpoint
    commit) neither double-counts history nor changes its alert rows."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as FF

    from opentelemetry_collector_contrib_spark.operators.templates import mask_template
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_template_diff,
    )

    t1 = spark.read.parquet(
        __import__(
            "opentelemetry_collector_contrib_spark.fixtures", fromlist=["ensure_tier"]
        ).ensure_tier("t1")
    ).select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    indir = str(tmp_path / "in")
    os.makedirs(f"{indir}/all", exist_ok=True)
    splits = [t1.filter(FF.crc32(FF.col("conv_id")) % 3 == i) for i in range(3)]
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(f"{indir}/drop{i}")
        for j, f in enumerate(sorted(glob.glob(f"{indir}/drop{i}/*.parquet"))):
            shutil.copy(f, f"{indir}/all/{i:02d}_{j}.parquet")

    out = str(tmp_path / "out")
    q = streaming_template_diff(spark, f"{indir}/all", out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    from opentelemetry_collector_contrib_spark.plans.snapshots import read_snapshot

    # final history == one-shot census over everything seen
    hist = {r["template"]: r["n"] for r in read_snapshot(spark, f"{out}/state").collect()}
    want = {
        r["template"]: r["n"]
        for r in t1.select(mask_template(FF.col("text")).alias("template"))
        .groupBy("template")
        .agg(FF.count(FF.lit(1)).alias("n"))
        .collect()
    }
    assert hist == want

    alerts = spark.read.option("basePath", f"{out}/alerts").parquet(
        f"{out}/alerts/_batch=*"
    )
    rows = alerts.collect()
    # 'new' fires exactly once per template, in its earliest batch
    news = [r for r in rows if r["status"] == "new"]
    assert len(news) == len({r["template"] for r in news}) == len(want)
    first_batch = {}
    for r in rows:
        first_batch.setdefault(r["template"], []).append((r["batch_id"], r["status"]))
    for t, evs in first_batch.items():
        evs.sort()
        assert evs[0][1] == "new" and all(s == "recurring" for _, s in evs[1:])
    # recurring rows carry the pre-batch history count
    for r in rows:
        assert (r["n_hist"] == 0) == (r["status"] == "new")

    # replay against committed state: history must be unchanged
    # (last_batch guard) AND the alert partitions must be byte-identical —
    # a replayed batch computing alerts against POST-commit state would
    # flip the original page-worthy 'new' rows to 'recurring' with
    # inflated n_hist, so the replay guard now covers the alert write too
    # (round-5 review)
    last_drop = sorted(glob.glob(f"{indir}/all/02_*.parquet"))
    replay_df = spark.read.parquet(*last_drop)
    from opentelemetry_collector_contrib_spark.plans.snapshots import SnapshotStore

    before = SnapshotStore(f"{out}/state").current()["summary"]
    orig_alerts = sorted(tuple(r) for r in rows)
    # simulate the crash-window replay by re-running foreachBatch body:
    # easiest faithful route — restart the stream with the same input and
    # a FRESH checkpoint but the EXISTING out/state; every batch replays
    q2 = streaming_template_diff(spark, f"{indir}/all", out, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    hist2 = {r["template"]: r["n"] for r in read_snapshot(spark, f"{out}/state").collect()}
    assert hist2 == want  # no double counting: batch_id <= last_batch skipped
    after = SnapshotStore(f"{out}/state").current()["summary"]
    assert after["last_batch"] == before["last_batch"]
    assert replay_df.count() > 0
    replay_alerts = sorted(
        tuple(r)
        for r in spark.read.option("basePath", f"{out}/alerts")
        .parquet(f"{out}/alerts/_batch=*")
        .collect()
    )
    assert replay_alerts == orig_alerts  # 'new' rows survive the replay


def test_watermark_sized_by_late_arrival_profile(spark, tmp_path):
    """The late_arrival_profile → watermark contract on a real stream.

    Append-mode windowed aggregation EMITS a window once the watermark
    passes its end; a later batch's row for an already-emitted window
    MUST be dropped (append results are immutable — Spark's one hard
    late-data guarantee; a late row whose window is merely un-emitted
    still merges). With watermark ≥ the profiler's max observed lateness
    the late row arrives before its window ever finalizes and counts;
    with a tight watermark the window was emitted a batch earlier and
    the row vanishes — the silent loss the profiler exists to size."""
    import json as _json
    import os as _os
    import time as _time

    from opentelemetry_collector_contrib_spark.operators.timeseries import late_arrival_profile

    d = tmp_path / "late_in"
    d.mkdir()
    files = [
        # batch 0: seeds window 00:01 and advances event time to 00:05:00
        [{"k": "a", "seq": 1, "ts": "2025-01-01 00:01:30"},
         {"k": "a", "seq": 2, "ts": "2025-01-01 00:05:00"}],
        # batch 1: with a tight watermark, processing this batch emits +
        # evicts window 00:01 (wm passed its end after batch 0)
        [{"k": "a", "seq": 3, "ts": "2025-01-01 00:05:40"}],
        # batch 2: the LATE row, 270 s behind the max seen — targets the
        # (tight-wm: already emitted) 00:01 window
        [{"k": "a", "seq": 4, "ts": "2025-01-01 00:01:10"},
         {"k": "a", "seq": 5, "ts": "2025-01-01 00:05:50"}],
        # batch 3: far-future row so every earlier window finalizes
        [{"k": "a", "seq": 6, "ts": "2025-01-01 01:00:00"}],
    ]
    now = _time.time()
    for i, rows in enumerate(files):
        f = d / f"f{i}.json"
        f.write_text("\n".join(_json.dumps(r) for r in rows))
        _os.utime(f, (now - 100 + i, now - 100 + i))

    schema = "k string, seq long, ts timestamp"
    batch = spark.read.schema(schema).json(str(d))
    prof = late_arrival_profile(batch, ["k"], ts_col="ts", seq_col="seq").collect()[0]
    assert prof["n_late"] == 1
    assert prof["max_lateness_s"] == 270.0

    def drain(delay_s: int, name: str) -> int:
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # one file per micro-batch
            .json(str(d))
            .withWatermark("ts", f"{delay_s} seconds")
            .groupBy(F.window("ts", "1 minute"))
            .count()
        )
        (
            sdf.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        return sum(r["count"] for r in spark.table(name).collect())

    # (the 01:00 window never finalizes in either drain — absent from both)
    # watermark ≥ suggested (280 ≥ 270): window 00:01 stays open until
    # the late row has merged -> rows 1-5 all emitted
    assert drain(280, "wm_ok") == 5
    # tight watermark: window 00:01 was emitted one batch BEFORE the late
    # row arrived -> the late row is dropped (emitted results immutable)
    assert drain(10, "wm_tight") == 4


def test_streaming_relabel_and_es_route_match_batch(spark, tmp_path):
    """Session-15 operators are stateless projections/filters, so they
    compose with readStream unchanged: the 9-action relabel chain and the
    ES data-stream router over an availableNow drain must equal the batch
    run on the same files. (Also exercises the filter-pushdown barrier
    under the streaming planner.)"""
    import json as _json

    from opentelemetry_collector_contrib_spark.operators.es_routing import route_documents
    from opentelemetry_collector_contrib_spark.operators.prom_relabel import labels_csv, relabel
    from opentelemetry_collector_contrib_spark.registry.telemetry import _RELABEL_RULES

    d = tmp_path / "rin"
    d.mkdir()
    rows = [
        {"id": i, "ns": f"ns-{i % 3}", "pod": f"pod-{i % 5}",
         "app": (f"Web{i % 4}" if i % 3 else None),
         "dataset": ("My App/x" if i % 4 == 0 else None),
         "scope": ("github.com/open-telemetry/opentelemetry-collector-contrib"
                   "/receiver/filelogreceiver" if i % 2 else "custom")}
        for i in range(40)
    ]
    (d / "b.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = "id int, ns string, pod string, app string, dataset string, scope string"

    def pipe(df):
        labeled = df.select(
            "id",
            F.map_filter(
                F.create_map(
                    F.lit("__address__"), F.concat(F.lit("10.0.0."), F.col("id").cast("string"), F.lit(":9100")),
                    F.lit("__scheme__"), F.lit("http"),
                    F.lit("__meta_kubernetes_namespace"), F.col("ns"),
                    F.lit("__meta_kubernetes_pod_name"), F.col("pod"),
                    F.lit("__meta_kubernetes_pod_label_App"), F.col("app"),
                    F.lit("job"), F.lit("scrape"),
                ),
                lambda _k, v: v.isNotNull(),
            ).alias("labels"),
            F.map_filter(
                F.create_map(F.lit("data_stream.dataset"), F.col("dataset")),
                lambda _k, v: v.isNotNull(),
            ).alias("attrs"),
            F.create_map().cast("map<string,string>").alias("scope_attrs"),
            F.create_map().cast("map<string,string>").alias("res_attrs"),
            F.col("scope").alias("scope_name"),
            F.lit("logs").alias("signal"),
        )
        out = relabel(labeled, _RELABEL_RULES)
        out = route_documents(out, mode="otel")
        return out.select("id", labels_csv(F.col("labels")).alias("lbl"), "es_index")

    sdf = pipe(spark.readStream.schema(schema).json(str(d)))
    assert sdf.isStreaming
    (
        sdf.writeStream.format("memory").queryName("relabel_stream")
        .option("checkpointLocation", str(tmp_path / "rck"))
        .trigger(availableNow=True).start().awaitTermination(60)
    )
    got = sorted(tuple(r) for r in spark.table("relabel_stream").collect())
    want = sorted(tuple(r) for r in pipe(spark.read.schema(schema).json(str(d))).collect())
    assert got == want
    assert 0 < len(got) < 40  # the keep/dropequal filters actually dropped rows
    by_id = {t[0]: t for t in got}
    assert any(t[2] == "logs-my_app_x.otel-default" for t in got)
    assert all("__meta" not in t[1] for t in got)  # labeldrop ran


def test_streaming_group_by_trace_matches_batch(spark, tmp_path):
    """groupbytrace wait_duration release: the applyInPandasWithState twin
    must emit exactly the batch fold's groups (release at first_ts+wait,
    later rows open a new buffer). Two micro-batches force real state
    carry-over; a far-future sentinel trace pushes the final watermark past
    every real release (its own group stays in state, filtered out)."""
    from opentelemetry_collector_contrib_spark.operators.recombine import (
        group_by_trace_waited,
    )
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_group_by_trace,
    )

    d = tmp_path / "gbt_in"
    d.mkdir()
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "a", "tool": "none", "ts": "2025-01-01T00:00:00.000Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "b", "tool": "none", "ts": "2025-01-01T00:00:10.000Z"},
        {"conv_id": "c1", "turn_idx": 2, "role": "user", "text": "c", "tool": "none", "ts": "2025-01-01T00:01:05.000Z"},
        {"conv_id": "c1", "turn_idx": 3, "role": "assistant", "text": "d", "tool": "none", "ts": "2025-01-01T00:01:06.000Z"},
        {"conv_id": "c2", "turn_idx": 0, "role": "user", "text": "x", "tool": "none", "ts": "2025-01-01T00:00:01.000Z"},
        {"conv_id": "c2", "turn_idx": 1, "role": "user", "text": "y", "tool": "none", "ts": "2025-01-01T00:00:29.000Z"},
    ]
    sentinel = {"conv_id": "zz", "turn_idx": 0, "role": "user", "text": "wm", "tool": "none", "ts": "2025-01-01T01:00:00.000Z"}
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    import time as _time

    _time.sleep(1.1)  # distinct mtime -> deterministic 2-batch order
    (d / "b2.json").write_text(json.dumps(sentinel))

    batch = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).json(str(d) + "/b1.json")
    want = sorted(
        tuple(r) for r in group_by_trace_waited(batch, wait_s=30).collect()
    )
    # c1 -> two releases ([a,b] @ +30s, [c,d] @ 00:01:35); c2 -> one
    assert len(want) == 3

    sdf = streaming_group_by_trace(
        transcripts_stream(spark, str(d) + "/*.json", max_files_per_trigger=1),
        wait_s=30,
        watermark="0 seconds",
    )
    run_available_now(sdf, "gbt_stream", str(tmp_path / "ck_gbt"))
    got = sorted(
        tuple(r)
        for r in spark.table("gbt_stream").filter(F.col("conv_id") != "zz").collect()
    )
    assert got == want


def test_streaming_log_dedup_matches_batch(spark, stream_input, tmp_path):
    """logdedup interval flush: the watermark-windowed streaming twin must
    collapse identical (text, role, tool) rows per tumbling interval into
    the SAME rows as the batch log_dedup."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import log_dedup
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_log_dedup,
    )

    batch = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).json(stream_input)
    want = sorted(tuple(r) for r in log_dedup(batch, interval_s=30).collect())
    assert any(r[-3] == 2 for r in want)  # the c2 dup pair collapsed

    sdf = streaming_log_dedup(
        transcripts_stream(spark, stream_input + "/*.json"), interval_s=30
    )
    run_available_now(sdf, "ld_stream", str(tmp_path / "ck_ld"), output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("ld_stream").collect())
    assert got == want


def test_streaming_interval_last_matches_batch(spark, stream_input, tmp_path):
    from opentelemetry_collector_contrib_spark.operators.aggregate import interval_last
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_interval_last,
    )

    batch = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).json(stream_input)
    want = sorted(
        tuple(r)
        for r in interval_last(batch, ["conv_id"], "ts", "turn_idx", interval_s=30).collect()
    )
    sdf = streaming_interval_last(
        transcripts_stream(spark, stream_input + "/*.json"),
        ["conv_id"],
        value_col="turn_idx",
        interval_s=30,
    )
    run_available_now(sdf, "il_stream", str(tmp_path / "ck_il"), output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("il_stream").collect())
    assert got == want and len(got) > 0


def test_fold_trace_groups_property_vs_naive():
    """The shared wait_duration fold vs a naive reference: group starts at
    the first unassigned row; membership = ts < start + wait; next row
    starts the next group. Random event streams, many wait values."""
    import random

    from opentelemetry_collector_contrib_spark.operators.recombine import (
        fold_trace_groups,
    )

    rng = random.Random(99)
    for _ in range(200):
        n = rng.randint(0, 30)
        rows = sorted(
            (rng.randint(0, 1000), i, f"t{i}") for i in range(n)
        )
        wait = rng.choice([1, 5, 50, 200, 2000])
        got = fold_trace_groups(rows, wait)
        # naive reference
        want, i = [], 0
        while i < len(rows):
            start = rows[i][0]
            grp = []
            while i < len(rows) and rows[i][0] < start + wait:
                grp.append(rows[i])
                i += 1
            want.append(
                (
                    start + wait,
                    len(grp),
                    "\n".join(t for _, _, t in grp),
                    grp[0][0],
                    grp[-1][0],
                )
            )
        assert got == want, (rows, wait)
        assert sum(g[1] for g in got) == n


def test_streaming_cardinality_guard_matches_batch(spark, stream_input, tmp_path):
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_cardinality_guard,
    )

    batch = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).json(stream_input)
    want = sorted(
        tuple(r)
        for r in streaming_cardinality_guard(
            batch, ["conv_id", "role", "text"], limit=2, interval_s=60
        ).collect()
    )
    assert any(r[3] for r in want)  # some window/key exceeds the limit
    sdf = streaming_cardinality_guard(
        transcripts_stream(spark, stream_input + "/*.json"),
        ["conv_id", "role", "text"],
        limit=2,
        interval_s=60,
    )
    run_available_now(sdf, "cg_stream", str(tmp_path / "ck_cg"), output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("cg_stream").collect())
    assert got == want


# --- round 5: restart-mid-stream soak for the stateful twins -----------------
# (r4 verdict task #9): kill the query between micro-batches with late data
# pending in state, restart from the SAME checkpoint, and require the resumed
# run to converge to the batch answer — proving the state store carries the
# buffers across process boundaries, not just across micro-batches.


def test_streaming_group_by_trace_restart_resumes_state(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.operators.recombine import (
        group_by_trace_waited,
    )
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_group_by_trace,
    )

    d = tmp_path / "gbt_restart"
    d.mkdir()
    ck = str(tmp_path / "ck_gbt_restart")
    rows1 = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "a", "tool": "none", "ts": "2025-01-01T00:00:00.000Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "b", "tool": "none", "ts": "2025-01-01T00:00:10.000Z"},
    ]
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    def make_stream():
        return streaming_group_by_trace(
            transcripts_stream(spark, str(d) + "/*.json", max_files_per_trigger=1),
            wait_s=30,
            watermark="0 seconds",
        )

    out = str(tmp_path / "gbt_restart_out")

    def drain_to_files():
        # the memory sink refuses checkpoint recovery; the FILE sink is the
        # fault-tolerant one (exactly-once via its manifest log), which is
        # precisely what a restart test must exercise
        q = (
            make_stream()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: release (00:00:30) is beyond the watermark (00:00:10) at
    # termination -> the whole group is PENDING state when the query dies
    drain_to_files()
    assert spark.read.parquet(out).count() == 0

    # late-but-pre-release row for the buffered trace + a sentinel that
    # drives the watermark past every release
    rows2 = [
        {"conv_id": "c1", "turn_idx": 2, "role": "user", "text": "m", "tool": "none", "ts": "2025-01-01T00:00:20.000Z"},
        {"conv_id": "zz", "turn_idx": 0, "role": "user", "text": "wm", "tool": "none", "ts": "2025-01-01T01:00:00.000Z"},
    ]
    (d / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))

    # run 2: NEW query object, SAME checkpoint -> must recover the buffer,
    # fold the late row into it, and release at first_ts + 30s
    drain_to_files()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out).filter(F.col("conv_id") != "zz").collect()
    )
    batch = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).json(str(d) + "/*.json").filter(F.col("conv_id") != "zz")
    want = sorted(tuple(r) for r in group_by_trace_waited(batch, wait_s=30).collect())
    assert got == want
    # and the released group REALLY contains the pre-restart buffer + the
    # post-restart late row (3 turns, one release)
    assert len(got) == 1 and got[0][2] == 3


def test_streaming_tail_sampling_restart_merges_open_session(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_tail_sampling,
    )

    policies = [
        {"name": "many", "type": "span_count", "min": 3},
        {"name": "keep", "type": "or", "of": ["many"]},
    ]
    d = tmp_path / "tsr"
    d.mkdir()
    ck = str(tmp_path / "ck_ts_restart")
    rows1 = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "a", "tool": "none", "ts": "2025-01-01T00:00:00.000Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "b", "tool": "none", "ts": "2025-01-01T00:00:05.000Z"},
    ]
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    def make_stream():
        return streaming_tail_sampling(
            transcripts_stream(spark, str(d) + "/*.json", max_files_per_trigger=1),
            policies,
            gap="30 seconds",
        )

    run_available_now(make_stream(), "ts_restart_r1", ck, output_mode="complete")
    # session open, only 2 rows buffered -> 'many' cannot hold yet
    r1 = spark.table("ts_restart_r1").filter(F.col("conv_id") == "c1").collect()
    assert len(r1) == 1 and not r1[0]["many"]

    rows2 = [
        # within the 30s gap of the pre-restart session -> must MERGE into it
        {"conv_id": "c1", "turn_idx": 2, "role": "user", "text": "c", "tool": "none", "ts": "2025-01-01T00:00:20.000Z"},
        # far later -> its own session
        {"conv_id": "c1", "turn_idx": 3, "role": "user", "text": "d", "tool": "none", "ts": "2025-01-01T00:05:00.000Z"},
    ]
    (d / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))

    run_available_now(make_stream(), "ts_restart_r2", ck, output_mode="complete")
    got = sorted(
        spark.table("ts_restart_r2").filter(F.col("conv_id") == "c1").collect(),
        key=lambda r: r["session_start"],
    )
    # session 1 merged ACROSS the restart (3 rows -> many=True); session 2 alone
    assert len(got) == 2
    assert got[0]["many"] and got[0]["sampled"]
    assert not got[1]["many"] and not got[1]["sampled"]
    # converges to the batch answer on the full input
    batch = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).json(str(d) + "/*.json")
    want = sorted(
        streaming_tail_sampling(batch, policies, gap="30 seconds")
        .filter(F.col("conv_id") == "c1")
        .collect(),
        key=lambda r: r["session_start"],
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_keep_first_dedup_replayed_short_doc_not_flagged(spark, tmp_path):
    """A doc with < n tokens produces NO shingles and therefore NO index
    rows; a replayed batch containing one used to look 'new below the
    high-water mark' and wedge the stream on a spurious ValueError
    forever (round-5 review). Shingle-less docs are order-INdependent
    (they can never collide), so the guard exempts them and the replay
    stays idempotent."""
    import os
    import shutil

    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        streaming_keep_first_dedup,
    )

    rows = [(0, "only two"), (1, "a much longer document with many words here"),
            (2, "short one"), (3, "another fairly long document body with words")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    indir = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(indir)
    out = str(tmp_path / "out")
    q = streaming_keep_first_dedup(spark, indir, out, str(tmp_path / "ck1"), threshold=0.4)
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(f"{out}/novel").collect()}
    assert got == {0, 1, 2, 3}

    # replay the SAME batch against the committed state (crash between
    # state commit and checkpoint): docs 0 and 2 are short (no shingles,
    # no state rows) and below the high-water mark — must NOT raise
    out2 = str(tmp_path / "out2")
    shutil.copytree(f"{out}/state", f"{out2}/state")
    q2 = streaming_keep_first_dedup(spark, indir, out2, str(tmp_path / "ck2"), threshold=0.4)
    q2.awaitTermination(120)
    got2 = {r["doc_id"] for r in spark.read.parquet(f"{out2}/novel").collect()}
    assert got2 == {0, 1, 2, 3}  # replay is idempotent, short docs re-emitted

