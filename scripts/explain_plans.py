"""Print the formatted physical plans of the headline queries — the
evidence that the pipeline compiles to the plan we designed for:

  q1: scan (ReadSchema pruned to the 6 input columns) → codegen'd parse/
      route projection → 2 BroadcastHashJoins → ONE Exchange
      (hashpartitioning conv_id) feeding the stable-order window
  agg: partial_count/partial_sum before the exchange (map-side combine)
  sinks: no second computation — filters over the routed frame

Usage: python scripts/explain_plans.py [q1|agg|dedup ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.session import get_spark


def main() -> None:
    which = set(sys.argv[1:]) or {
        "q1", "agg", "dedup", "grok", "drain", "curation", "pack",
        "decontam", "shuffle", "balance", "timeseries", "convqa", "drift",
        "corpus", "session15",
    }
    spark = get_spark("explain", master="local[4]", shuffle_partitions=8)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from opentelemetry_collector_contrib_spark.plans.pipeline import build_routed, pipeline_aggregates

    if "q1" in which:
        print("=" * 30, "q1 routed pipeline", "=" * 30)
        build_routed(spark, sf).explain("formatted")
    if "agg" in which:
        print("=" * 30, "per-tool aggregate", "=" * 30)
        routed = build_routed(spark, sf)
        pipeline_aggregates(routed)["agg_per_tool"].explain("formatted")
    if "dedup" in which:
        print("=" * 30, "minhash LSH dedup", "=" * 30)
        from opentelemetry_collector_contrib_spark.operators.dedup import minhash_lsh_dedup_pairs

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        minhash_lsh_dedup_pairs(docs, "doc_id").explain("formatted")
    if "grok" in which:
        print("=" * 30, "grok parse (native)", "=" * 30)
        from opentelemetry_collector_contrib_spark.operators.grok import grok_parser

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        grok_parser(
            docs, "text", r"%{WORD:w1} %{WORD:w2} %{GREEDYDATA:rest}"
        ).explain("formatted")
    if "drain" in which:
        print("=" * 30, "drain templates (merged)", "=" * 30)
        from opentelemetry_collector_contrib_spark.operators.templates import drain_templates

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        drain_templates(docs).explain("formatted")
    if "curation" in which:
        print("=" * 30, "curation gate (gopher + pii)", "=" * 30)
        from opentelemetry_collector_contrib_spark.operators.curation import gopher_filter, pii_scrub

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        pii_scrub(gopher_filter(docs, "text"), "text").explain("formatted")
    if "pack" in which:
        print("=" * 30, "sequence packing", "=" * 30)
        from pyspark.sql import functions as F

        from opentelemetry_collector_contrib_spark.operators.curation import pack_sequences
        from opentelemetry_collector_contrib_spark.operators.textstats import tokens

        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "source", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
        )
        pack_sequences(docs, budget=512, partition_cols=["source"]).explain("formatted")
    if "decontam" in which:
        print("=" * 30, "benchmark decontamination", "=" * 30)
        from pyspark.sql import functions as F

        from opentelemetry_collector_contrib_spark.operators.curation import decontaminate

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        decontaminate(
            docs.filter(F.col("doc_id") % 37 != 0), docs.filter(F.col("doc_id") % 37 == 0)
        ).explain("formatted")
    if "shuffle" in which:
        print("=" * 30, "seeded training shuffle", "=" * 30)
        from opentelemetry_collector_contrib_spark.operators.curation import train_shuffle

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        train_shuffle(docs, n_shards=16, seed="r3").explain("formatted")
    if "balance" in which:
        print("=" * 30, "cluster-balanced sampling", "=" * 30)
        from opentelemetry_collector_contrib_spark.operators.similarity import cluster_balance

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        cluster_balance(emb, cap=40, n_cells=8).explain("formatted")
    if "timeseries" in which:
        from opentelemetry_collector_contrib_spark.registry.telemetry import (
            q_asof_enrich,
            q_range_burst,
            q_rollup_gapfill,
            q_session_stats,
        )

        for name, q in [
            ("asof join (union+window)", q_asof_enrich),
            ("banded range join", q_range_burst),
            ("sessionization", q_session_stats),
            ("gapfill rollup", q_rollup_gapfill),
        ]:
            print("=" * 30, name, "=" * 30)
            q(spark, sf).explain("formatted")
    if "convqa" in which:
        from opentelemetry_collector_contrib_spark.registry.datapipe import (
            q_pack_conversations,
            q_tool_retry_chains,
            q_transcript_curation_gate,
        )

        for name, q in [
            ("tool retry chains (one exchange, island agg reuses it)", q_tool_retry_chains),
            ("curation gate (per-conv joins + digest window)", q_transcript_curation_gate),
            ("conversation packing (agg + per-shard grouped mapInArrow kernel)", q_pack_conversations),
        ]:
            print("=" * 30, name, "=" * 30)
            q(spark, sf).explain("formatted")
    if "drift" in which:
        from opentelemetry_collector_contrib_spark.registry.telemetry import (
            q_events_value_drift,
        )

        print("=" * 30, "PSI drift (bounds broadcast, one hash agg)", "=" * 30)
        q_events_value_drift(spark, sf).explain("formatted")
    if "corpus" in which:
        from opentelemetry_collector_contrib_spark.registry.datapipe import (
            q_domain_cap,
            q_heavy_hitters,
            q_html_extract,
            q_robots_gate,
            q_zorder_key,
        )

        for name, q in [
            ("html extract (pure codegen projection, no UDF)", q_html_extract),
            ("heavy hitters (MG candidates + collapsed-key recount)", q_heavy_hitters),
            ("zorder key (shift/or projection)", q_zorder_key),
            ("domain cap (suffix projection + one window)", q_domain_cap),
            ("robots gate (broadcast rules + max_by)", q_robots_gate),
        ]:
            print("=" * 30, name, "=" * 30)
            q(spark, sf).explain("formatted")
    if "session15" in which:
        from opentelemetry_collector_contrib_spark.registry.datapipe import (
            q_pq_codes,
            q_text_dict_tags,
            q_topk_pq,
        )
        from opentelemetry_collector_contrib_spark.registry.telemetry import (
            q_es_route_index,
            q_gitlab_pipeline_spans,
            q_prom_relabel,
        )

        for name, q in [
            ("prom relabel (label columns + rest map, rand() filter barriers)", q_prom_relabel),
            ("gitlab CI spans (in-array stage derivation, no shuffle)", q_gitlab_pipeline_spans),
            ("es route index (single projection)", q_es_route_index),
            ("pq encode (inlined codebook, zero joins)", q_pq_codes),
            ("pq adc topk (broadcast integer LUT + window)", q_topk_pq),
            ("dict tags (bounded explode + broadcast lexicon join)", q_text_dict_tags),
        ]:
            print("=" * 30, name, "=" * 30)
            q(spark, sf).explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
