"""Benchmark harness: headline pipeline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors testbed/tests/scenarios.go's sustained-load measurement: rows are
fully materialized (hash-forced so Catalyst can't prune the parse work away),
throughput = rows / wall-sec. The two-parallelism scaling run lives in
scripts/scaling_bench.py (writes BENCH/BASELINE.md evidence).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def force(df: DataFrame) -> int:
    """Evaluate every column (xxhash64 over all) so column pruning can't skip
    the work being measured; returns row count."""
    hashed = df.select(F.xxhash64(*[F.col(c) for c in df.columns if not c.startswith("copy_")]).alias("h"))
    row = hashed.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(h)").alias("h"),  # overflow-proof full-row materialization
    ).collect()[0]
    return row["n"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from opentelemetry_collector_contrib_spark.plans.pipeline import build_routed, pipeline_aggregates
    from opentelemetry_collector_contrib_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=2 * int(cpus))

    # warm the JVM + fixture generation outside the timed region
    routed_warm = build_routed(spark, sf_dir)
    n_rows = routed_warm.count()

    timings: dict[str, float] = {}
    only = os.environ.get("SPARK_GRAFT_QUERIES")  # comma list; default all
    selected = {q.strip() for q in only.split(",")} if only else None

    qrows: dict[str, int] = {}

    def timed(name: str, fn) -> None:
        if selected is not None and name not in selected:
            return
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        # most query lambdas end in force(df), which returns the row count —
        # record it so the report can state rows/s per query, not just secs
        if isinstance(out, int):
            qrows[name] = out

    # q1: full parse→enrich→route, all columns materialized. Sustained
    # throughput = best of SPARK_GRAFT_Q1_REPEATS passes after
    # SPARK_GRAFT_Q1_WARMUP untimed passes (scenarios.go:190 measures steady
    # state; whole-stage-codegen C2 JIT needs ~3 passes to fully compile).
    # 2 warmups + best-of-3: one warmup under-JITs codegen on this host
    # (measured 18.6s warm-1 vs 7.3s warm-2 on identical plans)
    q1_repeats = int(os.environ.get("SPARK_GRAFT_Q1_REPEATS", "3"))
    q1_warmup = int(os.environ.get("SPARK_GRAFT_Q1_WARMUP", "2"))
    if selected is None or "q1_pipeline_routed" in selected:
        q1_df = build_routed(spark, sf_dir)  # plan built once; each pass re-executes the job
        for _ in range(q1_warmup):
            force(q1_df)
        best_q1 = None
        for _ in range(q1_repeats):
            t0 = time.perf_counter()
            force(q1_df)
            dt = time.perf_counter() - t0
            best_q1 = dt if best_q1 is None else min(best_q1, dt)
        timings["q1_pipeline_routed"] = round(best_q1, 3)
        qrows["q1_pipeline_routed"] = n_rows

    # q2: fan-out — single-pass partitionBy(route_id) write (the at-scale
    # sink path: one job, no persist, every move-sink lands in its own
    # directory) + per-sink row counts off the written files
    def sinks():
        import shutil
        import tempfile

        from opentelemetry_collector_contrib_spark.operators.route import write_sinks_partitioned

        out = tempfile.mkdtemp(prefix="bench_sinks_")
        try:
            path = write_sinks_partitioned(build_routed(spark, sf_dir), out)
            spark.read.parquet(path).groupBy("route_id").count().collect()
        finally:
            shutil.rmtree(out, ignore_errors=True)

    timed("q2_sink_fanout", sinks)

    # q3: per-conv aggregate (salted two-phase, the skew path)
    def agg_conv():
        from opentelemetry_collector_contrib_spark.operators.aggregate import salted_agg

        return force(salted_agg(build_routed(spark, sf_dir), ["route_id", "conv_id"], {"turn_count": ("count", ""), "sum_latency": ("sum", "latency_ms")}))

    timed("q3_agg_per_conv_salted", agg_conv)

    # q4: per-tool aggregate
    def agg_tool():
        routed = build_routed(spark, sf_dir)
        return force(pipeline_aggregates(routed)["agg_per_tool"])

    timed("q4_agg_per_tool", agg_tool)

    # q5: vectorized (pandas UDF) parse bank over the same table
    def vec():
        from opentelemetry_collector_contrib_spark.fixtures import ensure_tier, tier_for_sf_dir
        from opentelemetry_collector_contrib_spark.operators.parse import parse_vectorized

        df = spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir)))
        return force(parse_vectorized(df).select("conv_id", "pattern_id", "sev", "latency_ms", "status"))

    timed("q5_vectorized_parse", vec)

    # q6: MinHash+LSH near-dup detection over the documents corpus.
    # The sf documents table is one small file = one scan split; repartition
    # first so the shingle/signature compute parallelizes (at real scale the
    # table is thousands of splits and this is a no-op).
    def dedup_docs():
        from opentelemetry_collector_contrib_spark.operators.dedup import minhash_lsh_dedup_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(2 * int(cpus))
        return minhash_lsh_dedup_pairs(docs, "doc_id", threshold=0.4).count()

    timed("q6_minhash_lsh_dedup", dedup_docs)

    # q7: IVF similarity search over the embeddings corpus
    def topk():
        from pyspark.sql import functions as FF

        from opentelemetry_collector_contrib_spark.operators.similarity import ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(2 * int(cpus))
        q = emb.filter(FF.col("vec_id") % 50 == 0).select(FF.col("vec_id").alias("query_id"), "embedding")
        return ivf_topk(emb, q, k=5, n_cells=8).count()

    timed("q7_ivf_topk", topk)

    # q8: SimHash near-dup pairs (the explode-free vote aggregation)
    def simhash_docs():
        from opentelemetry_collector_contrib_spark.operators.dedup import simhash_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(2 * int(cpus))
        return simhash_pairs(docs, "doc_id", max_hamming=3).count()

    timed("q8_simhash_pairs", simhash_docs)

    # q9: IVF-cell-blocked embedding near-dup pairs (the O(n^2)-free path)
    def emb_bucketed():
        from opentelemetry_collector_contrib_spark.operators.dedup import embedding_dup_pairs_bucketed

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(2 * int(cpus))
        return embedding_dup_pairs_bucketed(emb, threshold=0.35, n_cells=8, probes=2).count()

    timed("q9_embedding_dup_bucketed", emb_bucketed)

    # q10: curation gate over the full transcript text — Gopher repetition
    # stats + PII scrub in one fused scan-speed projection (the
    # training-data-filter headline; zero shuffle, pure codegen)
    def curation_gate():
        from opentelemetry_collector_contrib_spark.fixtures import ensure_tier, tier_for_sf_dir
        from opentelemetry_collector_contrib_spark.operators.curation import gopher_filter, pii_scrub

        df = spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir)))
        out = pii_scrub(gopher_filter(df, "text"), "text")
        return force(out.select("conv_id", "gopher_pass", "pii_email_count", "text_scrubbed"))

    timed("q10_curation_gate", curation_gate)

    # q11: gap sessionization + as-of enrich over the full transcript table
    # — the big-window path (ONE exchange on conv_id, stacked lag/sum
    # windows) plus the union+window as-of join (zero join operators)
    def session_asof():
        from opentelemetry_collector_contrib_spark.fixtures import ensure_tier, tier_for_sf_dir
        from opentelemetry_collector_contrib_spark.operators.timeseries import asof_join, session_stats

        df = spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir)))
        sess = session_stats(df, ["conv_id"], "ts", gap_s=600, order_cols=["turn_idx"])
        force(sess)
        # as-of: each turn joined to the conv's most recent prior tool turn
        left = df.select("conv_id", "turn_idx", "ts")
        right = (
            df.filter(F.col("tool").isNotNull())
            .groupBy("conv_id", "ts")
            .agg(F.max("tool").alias("last_tool"))
        )
        return force(asof_join(left, right, ["conv_id"], "ts", ["last_tool"]))

    timed("q11_session_asof", session_asof)

    # q12: per-trace span-tree kernel (coralogix-analogue transactions +
    # CRISP critical path) over every conversation — the grouped mapInArrow
    # kernel (one Python call per partition, traces contiguous)
    def trace_tree():
        from pyspark.sql import Window

        from opentelemetry_collector_contrib_spark.fixtures import ensure_tier, tier_for_sf_dir
        from opentelemetry_collector_contrib_spark.operators.trace_tree import (
            transactions_and_critical_path,
        )

        df = spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir)))
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        rn = F.row_number().over(w)
        nconv = F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
        frame = df.select(
            F.col("conv_id").alias("trace_id"),
            F.concat(F.lit("s"), F.lpad(rn.cast("string"), 6, "0")).alias("span_id"),
            F.when(rn == 1, F.lit(None).cast("string")).otherwise(F.lit("s000001")).alias("parent_span_id"),
            F.coalesce(F.col("role"), F.lit("turn")).alias("name"),
            F.when(rn % 5 == 0, F.lit("server")).otherwise(F.lit("client")).alias("kind"),
            F.when(rn == 1, F.lit(0)).otherwise(1000 * (rn - 1)).cast("long").alias("start_ns"),
            F.when(rn == 1, 1000 * (nconv - 1) + 900).otherwise(1000 * (rn - 1) + 800).cast("long").alias("end_ns"),
        )
        return force(transactions_and_critical_path(frame))

    timed("q12_trace_tree", trace_tree)

    # q13: incremental keep-first dedup — the last 10% of the corpus deduped
    # against the LSH state of the first 90% (the new-crawl-batch path:
    # index build O(batch) + equi-joins vs state, no corpus rescan)
    def incremental_dedup():
        from opentelemetry_collector_contrib_spark.operators.dedup import (
            dedup_keep_first_incremental,
            minhash_dedup_state,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(2 * int(cpus))
        hi = docs.agg(F.max("doc_id")).collect()[0][0]
        cut = int(hi * 0.9)
        state = minhash_dedup_state(docs.filter(F.col("doc_id") < cut), "doc_id")
        batch = docs.filter(F.col("doc_id") >= cut)
        novel, _ = dedup_keep_first_incremental(batch, state, "doc_id", threshold=0.4)
        return novel.count()

    timed("q13_incremental_dedup", incremental_dedup)

    # q14: OTLP-protobuf wire decode throughput — the apples-to-apples
    # analogue of the reference testbed's raw ingest line rate
    # (log_test.go's 200k-330k lines/s): every transcript turn pre-encoded
    # as a LogsData payload (cached spool, generated untimed), then decoded
    # and fully materialized. records/s = n_rows / q14 seconds.
    def wire_decode():
        from opentelemetry_collector_contrib_spark.operators.otlp_pb import parse_otlp_pb_logs

        return force(parse_otlp_pb_logs(spark.read.parquet(wire_spool), "payload"))

    if selected is None or "q14_otlp_pb_decode" in selected:
        from opentelemetry_collector_contrib_spark.fixtures import tier_for_sf_dir
        from opentelemetry_collector_contrib_spark.fixtures.transcripts import tier_dir
        from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
            synthesize_otlp_pb_turns,
        )

        tier = tier_for_sf_dir(sf_dir)
        wire_spool = os.path.join(tier_dir(tier), "wire_otlp")
        if not os.path.exists(os.path.join(wire_spool, "_SUCCESS")):
            from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

            src = spark.read.parquet(ensure_tier(tier))
            synthesize_otlp_pb_turns(src).write.mode("overwrite").parquet(wire_spool)
        # warm the PAYLOAD pages, not just footers (count() projects nothing)
        spark.read.parquet(wire_spool).select(
            F.sum(F.octet_length("payload"))
        ).collect()
        timed("q14_otlp_pb_decode", wire_decode)

    # q15: Arrow IPC pack+unpack kernel (the otelarrow wire shape) — rows
    # regroup into one IPC stream payload per conv bucket and come back out,
    # fully materialized. Exercises the grouped mapInArrow encode and
    # the declared-schema decode end to end.
    def arrow_roundtrip():
        from opentelemetry_collector_contrib_spark.operators.arrow_ipc import (
            decode_arrow_ipc,
            encode_arrow_ipc,
        )

        src = spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir))).select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.pmod(F.xxhash64("conv_id"), F.lit(256)).alias("bucket"),
        )
        packed = encode_arrow_ipc(
            src, ["bucket"], ["conv_id", "turn_idx"],
            ["conv_id", "turn_idx", "role", "text", "tool"],
        )
        out = decode_arrow_ipc(
            packed,
            schema="conv_id string, turn_idx int, role string, text string, tool string",
            passthrough=["bucket"],
        )
        return force(out)

    if selected is None or "q15_arrow_ipc_roundtrip" in selected:
        from opentelemetry_collector_contrib_spark.fixtures import ensure_tier, tier_for_sf_dir

        timed("q15_arrow_ipc_roundtrip", arrow_roundtrip)

    # q16: OTEP-235 consistent sampling — tracestate parse + equalizing
    # decision + T-value restamp over every turn. Pure column math (hex
    # conv, FNV aggregate HOF not needed here), so this should read at
    # scan speed; it is the per-record cost every modern-mode
    # probabilisticsampler deployment pays.
    def consistent_sampling():
        from opentelemetry_collector_contrib_spark.operators.sampling import (
            consistent_sample,
            parse_sampling_state,
        )

        src = spark.read.parquet(ensure_tier(tier_for_sf_dir(sf_dir))).select(
            "conv_id", "turn_idx",
            F.md5(F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"))).alias(
                "trace_id"
            ),
            F.when(F.xxhash64("conv_id") % 3 == 0, F.lit("ot=th:8")).alias("tracestate"),
        )
        parsed = parse_sampling_state(src, "tracestate", "trace_id")
        out = consistent_sample(
            parsed.withColumn("tv", F.col("tvalue")).withColumn("rv", F.col("rvalue")),
            25, "equalizing", tvalue_col="tv", rvalue_col="rv", precision=4,
        )
        return force(out.select("conv_id", "turn_idx", "sampling_threshold", "adjusted_count"))

    if selected is None or "q16_consistent_sampling" in selected:
        from opentelemetry_collector_contrib_spark.fixtures import ensure_tier, tier_for_sf_dir

        timed("q16_consistent_sampling", consistent_sampling)

    # q17: NetFlow v5 flow-record decode throughput — the vectorized
    # numpy-batch kernel over a cached packet spool (one packet per turn,
    # 8 flow records each), fully materialized. flow records/s =
    # 8 * n_rows / q17 seconds; compare the reference testbed's raw
    # filelog ingest (200k-330k lines/s) where each "record" is a text
    # line, not a binary flow record.
    def netflow_decode():
        from opentelemetry_collector_contrib_spark.operators.netflow import parse_netflow_v5

        return force(parse_netflow_v5(spark.read.parquet(nf_spool), "payload"))

    if selected is None or "q17_netflow_decode" in selected:
        from opentelemetry_collector_contrib_spark.fixtures import ensure_tier, tier_for_sf_dir
        from opentelemetry_collector_contrib_spark.fixtures.transcripts import tier_dir
        from opentelemetry_collector_contrib_spark.operators.netflow import synthesize_netflow_v5

        tier = tier_for_sf_dir(sf_dir)
        nf_spool = os.path.join(tier_dir(tier), "wire_netflow")
        if not os.path.exists(os.path.join(nf_spool, "_SUCCESS")):
            src = spark.read.parquet(ensure_tier(tier)).select(
                (F.abs(F.xxhash64("conv_id")) % 1_000_000 + F.col("turn_idx")).alias("event_id"),
                (F.abs(F.xxhash64("conv_id")) % 150).alias("user_id"),
            )
            synthesize_netflow_v5(src, records_per_packet=8).write.mode("overwrite").parquet(
                nf_spool
            )
        spark.read.parquet(nf_spool).select(F.sum(F.octet_length("payload"))).collect()
        timed("q17_netflow_decode", netflow_decode)

    # q18: exact-substring span REMOVAL over the documents corpus — the
    # Lee-et-al training-data curation cut step (positional n-gram index,
    # keeper selection, per-doc position union, columnar text rebuild).
    # Cost is linear in flagged-gram occurrences; no pair join exists.
    def span_removal():
        from opentelemetry_collector_contrib_spark.operators.dedup import remove_duplicated_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(2 * int(cpus))
        return force(remove_duplicated_spans(docs, "doc_id", n=5, min_docs=2))

    if selected is None or "q18_span_removal" in selected:
        timed("q18_span_removal", span_removal)

    # q19: composite transcript curation gate — three per-conversation QA
    # surfaces (role protocol, conversation-exact dedup digest, tool-retry
    # chains) computed and joined per conv_id. Exercises the multi-window +
    # multi-join per-conv analytics path; every shuffle key is conv_id or a
    # 32-byte digest, never turn text.
    def conv_qa_gate():
        from opentelemetry_collector_contrib_spark.operators.conv_qa import (
            transcript_curation_gate,
        )
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts

        return force(transcript_curation_gate(load_transcripts(spark, sf_dir)))

    if selected is None or "q19_conv_qa_gate" in selected:
        timed("q19_conv_qa_gate", conv_qa_gate)

    # q20/q21: the bucketing payoff, measured. The same per-conv aggregate
    # (count + max latency proxy via text length) over the plain parquet
    # scan (shuffles all turns on conv_id) vs the bucketBy(conv_id) catalog
    # table (zero Exchange — plans/bucketing.py). Bucketed write happens
    # once, untimed: it is the amortized ingest cost the comparison is
    # ABOUT.
    if selected is None or {"q20_order_plain", "q21_order_bucketed"} & (selected or set()):
        from opentelemetry_collector_contrib_spark.plans.bucketing import (
            read_bucketed,
            write_bucketed,
        )
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts

        plain = load_transcripts(spark, sf_dir)
        tbl = "bench_transcripts_bucketed"
        if not spark.catalog.tableExists(tbl):
            write_bucketed(
                plain,
                tbl,
                os.path.join("fixtures_data", "bench_bucketed"),
                n_buckets=2 * int(cpus),
            )
        bucketed = read_bucketed(spark, tbl)

        from pyspark.sql import Window

        def _order(src):
            # the stable-order window — the pipeline stage whose Exchange
            # bucketing eliminates; full rows must reach their conv's
            # partition, so this is shuffle-bound on the plain scan
            w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
            force(
                src.select(
                    "conv_id",
                    "turn_idx",
                    F.row_number().over(w).alias("turn_rn"),
                    F.lag("role").over(w).alias("prev_role"),
                )
            )

        timed("q20_order_plain", lambda: _order(plain))
        timed("q21_order_bucketed", lambda: _order(bucketed))

    # q22: HTML -> text extraction over every turn — the C4-style markup
    # strip as a pure codegen projection. Markup is synthesized once into
    # a cached column so the timed pass measures extraction, not synthesis.
    def html_strip():
        from opentelemetry_collector_contrib_spark.operators.html_extract import (
            extract_html_text,
        )

        return force(
            extract_html_text(html_src).select("conv_id", "turn_idx", "html_text", "n_links")
        )

    if selected is None or "q22_html_extract" in selected:
        from opentelemetry_collector_contrib_spark.operators.html_extract import (
            synthesize_html_docs,
        )
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts

        html_src = synthesize_html_docs(
            load_transcripts(spark, sf_dir).select(
                "conv_id", "turn_idx",
                F.col("turn_idx").cast("long").alias("doc_id"),
                F.coalesce(F.col("tool"), F.lit("none")).alias("source"),
                "text",
            )
        ).persist()
        html_src.count()
        timed("q22_html_extract", html_strip)
        html_src.unpersist()

    # q23: exact token heavy hitters over the full turn-token stream —
    # the Misra-Gries candidate pass (bounded memory per task) + the
    # collapsed-key exact recount. The shuffle carries |candidates|+1
    # keys; the vocabulary never shuffles.
    def heavy_hit():
        from opentelemetry_collector_contrib_spark.operators.sketches import heavy_hitters
        from opentelemetry_collector_contrib_spark.operators.textstats import tokens
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts

        toks = load_transcripts(spark, sf_dir).select(
            F.explode(tokens(F.col("text"))).alias("item")
        )
        return force(heavy_hitters(toks, "item", 0.005))

    if selected is None or "q23_heavy_hitters" in selected:
        timed("q23_heavy_hitters", heavy_hit)

    # q24/q25: the bloom-join pruning trade, measured honestly. Same
    # selective join (turns ⨝ the ~1% of conversations whose numeric
    # suffix % 97 == 0) twice, with autoBroadcastJoinThreshold=-1 so BOTH
    # run the shuffle join a 100 TB non-broadcastable dim would force:
    # q24 shuffles every wide probe row (~6M at sf0.1); q25 prunes the
    # probe scan-side with the inlined-bitmap filter, so the exchange
    # carries only might-match rows (~86k = 1% + fpp, a ~70× exchange-row
    # reduction — THE metric that matters when the exchange is
    # network/disk-bound). On local[*] the shuffle is a memcpy, so q25's
    # extra per-row hash work makes it measure slightly SLOWER here —
    # expected, and exactly why the operator is opt-in rather than a
    # default rewrite: it wins when exchange cost dominates probe CPU.
    if selected is None or {"q24_join_plain_shuffle", "q25_join_bloom_pruned"} & (selected or set()):
        from opentelemetry_collector_contrib_spark.operators.enrich import bloom_join
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts

        t24 = load_transcripts(spark, sf_dir)
        # the dim is ITS OWN small table in the modeled scenario — derive
        # and persist it outside the timed region so neither variant pays
        # a hidden corpus rescan for it (the bloom build's jobs then run
        # over ~600 cached rows, not 6M)
        dim24 = (
            t24.filter(F.regexp_extract(F.col("conv_id"), r"(\d+)$", 1).cast("long") % 97 == 0)
            .select(F.col("conv_id").alias("dconv"))
            .distinct()
            .withColumn("conv_attr", F.length("dconv"))
            .persist()
        )
        dim24.count()
        probe24 = t24.select("conv_id", "turn_idx", "role", "text")
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            timed(
                "q24_join_plain_shuffle",
                lambda: force(probe24.join(dim24, probe24.conv_id == dim24.dconv)),
            )
            timed(
                "q25_join_bloom_pruned",
                lambda: force(bloom_join(probe24, dim24, "conv_id", "dconv")),
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
            dim24.unpersist()

    # q26: Prometheus relabel chain over per-turn scrape-style labels —
    # nine actions (replace/hashmod/keep/lowercase/replace/labelmap/
    # dropequal/labeldrop/uppercase) as one codegen projection; measures
    # the map-column rewrite throughput at corpus scale.
    if selected is None or "q26_prom_relabel" in selected:
        from opentelemetry_collector_contrib_spark.operators.prom_relabel import (
            labels_csv,
            relabel,
        )
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts
        from opentelemetry_collector_contrib_spark.registry.telemetry import _RELABEL_RULES

        t26 = load_transcripts(spark, sf_dir)
        h = F.xxhash64("conv_id", "turn_idx")
        addr26 = F.concat(
            F.lit("10.0."), F.pmod(h, F.lit(200)).cast("string"), F.lit("."),
            F.pmod(h, F.lit(50)).cast("string"), F.lit(":9100"),
        )
        labeled = t26.select(
            F.map_filter(
                F.create_map(
                    F.lit("__address__"), addr26,
                    F.lit("__scheme__"), F.when(h % 2 == 0, F.lit("http")).otherwise(F.lit("https")),
                    F.lit("__meta_kubernetes_namespace"), F.concat(F.lit("ns-"), F.pmod(h, F.lit(5)).cast("string")),
                    F.lit("__meta_kubernetes_pod_name"), F.concat(F.lit("pod-"), F.pmod(h, F.lit(7)).cast("string")),
                    F.lit("__meta_kubernetes_pod_label_App"),
                    F.when(h % 3 != 0, F.concat(F.lit("Web"), F.pmod(h, F.lit(4)).cast("string"))),
                    F.lit("instance"), F.when(h % 11 == 0, addr26),
                    F.lit("job"), F.lit("scrape"),
                ),
                lambda _k, v: v.isNotNull(),
            ).alias("labels")
        )
        q26 = relabel(labeled, _RELABEL_RULES).select(labels_csv(F.col("labels")).alias("l"))
        timed("q26_prom_relabel", lambda: force(q26))

    # q27: dictionary phrase tagging over every turn's text — bounded
    # 1-3-gram explode + broadcast lexicon join + per-doc rollup.
    if selected is None or "q27_dict_tags" in selected:
        from opentelemetry_collector_contrib_spark.operators.dict_tag import tag_summary
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts

        t27 = load_transcripts(spark, sf_dir).select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
            "text",
        )
        lex = spark.createDataFrame(
            [
                ("log", "syslog"), ("status=ok", "ok"), ("status=error", "err"),
                ("lvl=debug", "debug"), ("lvl=error", "err"),
                ("log lvl=error", "err-line"), ("tool=none", "no-tool"),
            ],
            "term string, tag string",
        )
        q27 = tag_summary(t27, lex, id_col="doc_id")
        timed("q27_dict_tags", lambda: force(q27))

    # q28: two-pass distributed global rank over the full turn stream —
    # the round-4 replacement for unpartitioned rank windows, exercised at
    # corpus scale (global row_number by (ts, conv_id, turn_idx): boundary
    # sample + per-bucket counts + balanced per-bucket window; the plan
    # contains NO SinglePartition stage at any input size).
    if selected is None or "q28_global_rank" in selected:
        from opentelemetry_collector_contrib_spark.operators.rank import global_row_number
        from opentelemetry_collector_contrib_spark.plans.pipeline import load_transcripts

        t28 = load_transcripts(spark, sf_dir).select("conv_id", "turn_idx", "ts")

        def rank_all():
            ranked, _total = global_row_number(
                t28,
                [("ts", "asc"), ("conv_id", "asc"), ("turn_idx", "asc")],
                out_col="global_rn",
            )
            return force(ranked)

        timed("q28_global_rank", rank_all)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "parse→enrich→route→aggregate pipeline, transcripts",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_out_rows": qrows,  # force() row count: == input rows for projection-shaped queries
        "query_out_rows_per_sec": {
            q: round(qrows[q] / timings[q], 1)
            for q in qrows
            if q in timings and timings[q] > 0
        },
        "sf": sf_dir,
        "rows": n_rows,
        "turns_per_sec": (
            round(n_rows / timings["q1_pipeline_routed"], 1) if "q1_pipeline_routed" in timings else None
        ),
        "cpus": int(cpus),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
