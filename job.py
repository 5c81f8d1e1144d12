"""Cluster entry point: spark-submit --py-files dist/pipeline.zip job.py ...

The production launch shape the north rule names. Local example:

    scripts/make_dist.sh
    spark-submit --master local[16] --py-files dist/pipeline.zip job.py \\
        --input /root/testdata/sf0.01 --output /tmp/pipeline_out

On a real cluster, swap --master, point --input at the Iceberg transcript
table (or its parquet location) and --output at the sink warehouse; the
lineage manifest makes reruns resume idempotently (plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir / transcript table location")
    ap.add_argument("--output", required=True, help="sink base path")
    ap.add_argument(
        "--vectorized",
        action="store_true",
        help="use the pandas-UDF parse bank (sets the spec's parse.bank, "
        "with or without --config)",
    )
    ap.add_argument(
        "--repartition-conv",
        type=int,
        default=None,
        help="explicit conv_id hash partitions before the order window (sets "
        "the spec's order.partitions, with or without --config)",
    )
    ap.add_argument(
        "--qa-gate",
        action="store_true",
        help="also emit the per-conversation curation verdict "
        "(operators/conv_qa.transcript_curation_gate) as an extra sink",
    )
    ap.add_argument(
        "--dlq",
        action="store_true",
        help="move content-failure rows (plans/dlq.py FIXTURE_DLQ_RULES, "
        "written into the spec's dlq.rules) to a quarantine sink: no route "
        "sink, copy sinks included, receives them",
    )
    ap.add_argument(
        "--profile",
        action="store_true",
        help="also emit data-shape diagnostics (operators/profiling.py): "
        "top-20 conv_id key-skew over the routed frame and per-column "
        "null/distinct/width stats — the pre-flight check for the "
        "salted-agg / AQE-skew decision at a new data scale",
    )
    ap.add_argument(
        "--plan-backfill",
        default=None,
        metavar="INPUT_ROOT",
        help="plan-only mode: diff the hive partitions under INPUT_ROOT "
        "against the backfill ledger at <output>/_backfill.json and print "
        "the todo/stale/done/orphan work list (plans/lineage.plan_backfill); "
        "no Spark job runs",
    )
    ap.add_argument(
        "--mark-processed",
        default=None,
        metavar="PARTITION",
        help="with --plan-backfill: record PARTITION as processed at its "
        "current fingerprint in the ledger (the runner's commit step)",
    )
    ap.add_argument(
        "--config",
        default=None,
        help="JSON pipeline spec (plans/config.py schema) — the YAML-config "
        "lifecycle; overrides the built-in fixture pipeline (still uses "
        "--output for sinks)",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="compile the same spec (fixture or --config, with --vectorized "
        "and --dlq) as a Structured Streaming availableNow drain "
        "(file-arrival micro-batches, checkpointed idempotent fan-out via "
        "foreachBatch, no order window); per-sink row counts match the "
        "batch run over the same input. --qa-gate, --profile and "
        "--repartition-conv are batch-only",
    )
    args = ap.parse_args()
    if args.streaming:
        for flag, val in (
            ("--qa-gate", args.qa_gate),
            ("--profile", args.profile),
            ("--repartition-conv", args.repartition_conv is not None),
        ):
            if val:
                ap.error(f"{flag} is batch-only; it cannot be combined with --streaming")

    if args.plan_backfill:
        # metadata-only: listing + fingerprints, no SparkSession
        from opentelemetry_collector_contrib_spark.plans.lineage import (
            BackfillLedger,
            input_fingerprint,
            plan_backfill,
        )

        ledger = BackfillLedger(os.path.join(args.output, "_backfill.json"))
        if args.mark_processed:
            part_dir = os.path.join(args.plan_backfill, args.mark_processed)
            ledger.mark_processed(args.mark_processed, input_fingerprint(part_dir))
        plan = plan_backfill(args.plan_backfill, ledger)
        print(json.dumps(plan))
        return

    # spark-submit provides the session; builder.getOrCreate attaches to it
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("otel-contrib-spark-pipeline").getOrCreate()

    import uuid

    from opentelemetry_collector_contrib_spark.operators.route import sink_frames
    from opentelemetry_collector_contrib_spark.plans.config import (
        build_aggregates,
        build_pipeline,
        build_tail_sampling,
        route_table_from_spec,
    )
    from opentelemetry_collector_contrib_spark.plans.dlq import FIXTURE_DLQ_RULES
    from opentelemetry_collector_contrib_spark.plans.lineage import (
        parquet_file_rows,
        write_sinks_resumable,
    )
    from opentelemetry_collector_contrib_spark.plans.metrics import PipelineMetrics
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        fixture_spec,
        load_transcripts,
        pipeline_aggregates,
    )
    from opentelemetry_collector_contrib_spark.streaming.pipeline import write_stream_sinks

    if args.config:
        with open(args.config) as f:
            spec = json.load(f)
    else:
        spec = fixture_spec(args.input)
    if args.vectorized:
        spec.setdefault("parse", {})["bank"] = "vectorized"
    if args.repartition_conv is not None:
        spec.setdefault("order", {})["partitions"] = args.repartition_conv
    if args.dlq:
        spec["dlq"] = {"rules": FIXTURE_DLQ_RULES}
    table = route_table_from_spec(spec)

    metrics = PipelineMetrics(run_id=uuid.uuid4().hex)
    with metrics.time_stage("build_and_persist"):
        routed = build_pipeline(spark, spec, streaming=args.streaming)
        if not args.streaming:
            routed = routed.persist()
            metrics.input_rows = routed.count()
    if args.streaming:
        q = write_stream_sinks(
            routed, args.output, os.path.join(args.output, "_checkpoint"), route_table=table
        )
        q.awaitTermination()
        # footer counts; the recursive glob covers each sink's _batch=<id>/
        counts = {
            name: sum(parquet_file_rows(os.path.join(args.output, name)))
            for name in sorted(os.listdir(args.output))
            if not name.startswith("_") and os.path.isdir(os.path.join(args.output, name))
        }
        print(json.dumps({"mode": "streaming", "sinks": counts}))
        return
    try:
        paths = write_sinks_resumable(
            routed, sink_frames(routed, table), args.output, metrics=metrics
        )
        counts = {name: metrics.sink_rows[name] for name in paths}
        with metrics.time_stage("aggregates"):
            # the fixture's agg_per_tool (a count and a cost sum) is not a
            # group_by_attrs rollup, so it keeps its own builder
            aggs = build_aggregates(routed, spec) if args.config else pipeline_aggregates(routed)
            verdicts = build_tail_sampling(routed, spec)
            if verdicts is not None:
                aggs["tail_sampling_verdicts"] = verdicts
            if args.qa_gate:
                from opentelemetry_collector_contrib_spark.operators.conv_qa import (
                    transcript_curation_gate,
                )

                aggs["conv_qa_gate"] = transcript_curation_gate(
                    load_transcripts(spark, args.input)
                )
            if args.profile:
                from opentelemetry_collector_contrib_spark.operators.profiling import (
                    column_profile,
                    key_skew_profile,
                )

                aggs["profile_key_skew"] = key_skew_profile(
                    routed, ["conv_id"], top_n=20
                )
                aggs["profile_columns"] = column_profile(
                    routed, ["conv_id", "role", "tool", "route_id", "sev", "status"]
                )
            for name, adf in aggs.items():
                adf.write.mode("overwrite").parquet(f"{args.output}/{name}")
                counts[name] = sum(parquet_file_rows(f"{args.output}/{name}"))
        metrics.write(f"{args.output}/_metrics.json")
        print(json.dumps({"sinks": counts, "metrics": metrics.to_dict()}))
    finally:
        routed.unpersist()


if __name__ == "__main__":
    main()
