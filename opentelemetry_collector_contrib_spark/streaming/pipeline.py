"""Structured Streaming analogues of the collector's stateful operators.

The reference is a streaming daemon with NO event-time watermarks — lateness
is handled by buffering timeouts (recombine force_flush_period
recombine/config.go:61, tailsampling decision_wait). Structured Streaming
gives us the stronger contract: watermarks + windowed state + checkpointed
exactly-once progress (the checkpointLocation replaces the stanza offset
store, internal/checkpoint/checkpoint.go:27).

Batch/stream symmetry is the design invariant: parse, enrich, and route are
pure projections/broadcast-joins, so the SAME pipeline spec compiles to a
streaming DataFrame (plans/config.build_pipeline(..., streaming=True)) and
write_stream_sinks fans it out. Only the stateful tail (dedup windows,
recombine sessions, aggregates) differs, and those live here.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def transcripts_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-arrival micro-batch source over transcript parquet/json drops —
    the filelog receiver's poll loop (fileconsumer/file.go:134) as a
    readStream; progress is checkpointed by the query, not by us."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path.endswith((".json", ".jsonl")):
        return reader.json(path)
    return reader.parquet(path)


def streaming_windowed_counts(
    df: DataFrame,
    dims: list[str],
    window: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """countconnector on a stream: tumbling event-time window + watermark
    for late data (the capability the reference lacks outright —
    SURVEY.md §2.8 'watermark/late data: absent')."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *dims)
        .agg(F.count(F.lit(1)).alias("log_count"))
        .select(F.col("win.start").alias("window_start"), *dims, "log_count")
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    watermark: str = "10 seconds",
    ts_col: str = "ts",
) -> DataFrame:
    """logdedupprocessor on a stream: duplicates within the watermark
    horizon are dropped; state is bounded by the watermark (the reference
    bounds it with the 10 s interval timer, logdedupprocessor/config.go:19)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


# ---------------------------------------------------------------------------
# stateful recombine (applyInPandasWithState)
# ---------------------------------------------------------------------------

_RECOMBINE_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("run_id", T.LongType()),
        T.StructField("combined", T.StringType()),
        T.StructField("n_lines", T.LongType()),
    ]
)

_RECOMBINE_STATE = T.StructType(
    [
        T.StructField("seg_first", T.LongType()),
        T.StructField("parts", T.ArrayType(T.StringType())),
    ]
)


def streaming_recombine(
    df: DataFrame,
    is_first_col: str = "is_first",
    combine_field: str = "text",
    order_col: str = "turn_idx",
    combine_with: str = "\n",
    flush_timeout_ms: int | None = 5000,
) -> DataFrame:
    """recombine (operator/transformer/recombine) as arbitrary stateful
    streaming: per conv_id, segments open at is_first rows, close when the
    next segment starts, and the open segment force-flushes on processing-
    time timeout — exactly the reference's force_flush_period semantics
    (recombine/config.go:61).

    `run_id` is the ORDER VALUE of the segment's first row (the batch
    recombine's `first_order`), not an ordinal counter: segment keys are
    unique and monotonic per conversation WITHOUT any persistent counter,
    so a force-flush can evict the conversation's state entirely — the
    state store stays bounded by the set of conversations with an open
    segment, never by every conversation ever seen — and a later revival
    cannot collide with previously emitted keys (orders only grow).

    Emits closed segments as they close; the in-flight segment lives in
    GroupState (bounded: one open segment per conversation).

    flush_timeout_ms=None disables the force-flush (NoTimeout) — required
    for drain-style availableNow runs, where a pending processing-time
    timeout would keep the query waiting for a batch that never comes."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.hasTimedOut:
            (seg_first, parts) = state.get
            state.remove()  # safe: future segment keys (orders) are larger
            if parts:
                yield pd.DataFrame(
                    {"conv_id": [conv_id], "run_id": [seg_first], "combined": [combine_with.join(parts)], "n_lines": [len(parts)]}
                )
            return
        if state.exists:
            seg_first, parts = state.get
            parts = list(parts)
        else:
            seg_first, parts = None, []
        out_rows: list[tuple[str, int, str, int]] = []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(order_col)
        for _, row in rows.iterrows():
            if bool(row[is_first_col]) and parts:
                out_rows.append((conv_id, seg_first, combine_with.join(parts), len(parts)))
                parts = []
            if not parts:
                seg_first = int(row[order_col])
            parts.append(str(row[combine_field]))
        state.update((seg_first, parts))
        if flush_timeout_ms is not None:
            state.setTimeoutDuration(flush_timeout_ms)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=["conv_id", "run_id", "combined", "n_lines"])

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout if flush_timeout_ms is not None else GroupStateTimeout.NoTimeout
    )
    return df.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=_RECOMBINE_OUT,
        stateStructType=_RECOMBINE_STATE,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


# ---------------------------------------------------------------------------
# sink fan-out (streaming exporter layer)
# ---------------------------------------------------------------------------


def write_stream_sinks(
    routed: DataFrame,
    base_path: str,
    checkpoint_dir: str,
    route_table=None,
    trigger_available_now: bool = True,
):
    """Streaming fan-out: ONE query, foreachBatch writes every sink of
    ``route.sink_frames(batch, route_table)`` from the same micro-batch
    (the routed frame is computed once per batch); no table writes the
    one sink `all`, as the batch job does. Writes are IDEMPOTENT under
    micro-batch retry: each sink batch lands in its own `_batch=<id>`
    partition directory with overwrite mode, so a batch that failed
    mid-fan-out and is replayed from the checkpoint overwrites its own
    partial output instead of appending duplicates — foreachBatch alone
    is only at-least-once. Readers scan `{base}/{sink}` as partitioned
    parquet (`_batch` surfaces as a partition column). Returns the
    started StreamingQuery."""
    from ..operators.route import sink_frames

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for name, sdf in sink_frames(batch_df, route_table).items():
                out = sdf.drop(*[c for c in sdf.columns if c.startswith("copy_")])
                out.write.mode("overwrite").parquet(f"{base_path}/{name}/_batch={batch_id}")
        finally:
            batch_df.unpersist()

    writer = routed.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# harness
# ---------------------------------------------------------------------------


def run_available_now(df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "append") -> None:
    """Drain everything currently available into an in-memory table named
    `query_name` (test/dev harness; production sinks use foreachBatch or
    writeTo(iceberg) with the same trigger).

    Append-mode caveat: a watermarked aggregation only emits windows the
    final watermark has passed — the trailing watermark-delay's worth of
    windows stays in state and never reaches the table before the drain
    terminates. Pass output_mode="complete" (as the batch/stream agreement
    tests do) when the comparison needs every window."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_session_counts(
    df: DataFrame,
    dims: list[str],
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time SESSION windows: rows within `gap` of each other merge
    into one session per dim key (Spark's session_window). This is the
    watermarked generalization of the reference's recombine
    force_flush_period — the session closes `gap` after the last event
    instead of on a processing-time timer, so late data within the
    watermark still lands in its session. Works identically on batch
    DataFrames (same function, no watermark needed)."""
    grouped = (
        df.withWatermark(ts_col, watermark) if df.isStreaming else df
    )
    return (
        grouped.groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *dims)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            *dims,
            "n_rows",
            "first_ts",
            "last_ts",
        )
    )


def streaming_tail_sampling(
    df: DataFrame,
    policies: list[dict],
    trace_col: str = "conv_id",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tail sampling on a stream — the reference's decision_wait buffer
    (tailsamplingprocessor) expressed as an event-time SESSION per trace:
    the verdict is decided `gap` after the trace's last event (late data
    within the watermark still counts), not on a wall-clock timer. Base
    policy specs are the same dicts operators.recombine.tail_sampling_policies
    compiles (latency/attribute/status_code/span_count/probabilistic/
    ottl_condition); combinators apply as column algebra on the verdict
    rows. One watermarked session aggregation."""
    from ..operators.recombine import _compile_base_policy, apply_policy_combinators

    base = [p for p in policies if p["type"] not in ("and", "or", "not", "drop")]
    grouped = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    agg = grouped.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session"), trace_col
    ).agg(*[_compile_base_policy(p, trace_col, ts_col).alias(p["name"]) for p in base])
    # shared verdict algebra — batch and streaming tail sampling cannot diverge
    agg = apply_policy_combinators(agg, policies)
    return agg.select(
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        trace_col,
        *[p["name"] for p in policies],
        "sampled",
    )


_GBT_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("release_us", T.LongType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("first_ts_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)
_GBT_STATE = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("orders", T.ArrayType(T.LongType())),
        T.StructField("texts", T.ArrayType(T.StringType())),
    ]
)


def streaming_group_by_trace(
    df: DataFrame,
    wait_s: int = 10,
    watermark: str = "10 seconds",
    trace_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """groupbytraceprocessor's wait_duration release as arbitrary stateful
    streaming (processor/groupbytraceprocessor/processor.go:25-73): the
    first buffered row of a trace fixes the release time at
    first_ts + wait_s; when the event-time watermark passes it, the whole
    buffered group ships as ONE row and later rows open a new buffer.

    Event-time (not the reference's wall-clock timer) makes replay
    idempotent: the same input files produce the same releases on every
    run. The group fold is operators.recombine.fold_trace_groups — the
    SAME code path as the batch twin group_by_trace_waited, so batch and
    stream cannot diverge. State per trace = the un-released rows only
    (bounded by wait_s × arrival rate); EventTimeTimeout wakes the trace
    when the watermark crosses its pending release even if no new rows
    arrive. Rows later than the watermark are dropped by Spark before the
    operator, which is exactly the "arrived after release" case."""
    from ..operators.recombine import fold_trace_groups

    wait_us = wait_s * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        buffered: list[tuple[int, int, str]] = []
        if state.exists:
            ts_l, ord_l, txt_l = state.get
            buffered = list(zip(ts_l, ord_l, txt_l))
        new_rows: list[tuple[int, int, str]] = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                for t, o, x in zip(pdf["_ts_us"], pdf[order_col], pdf[text_col]):
                    new_rows.append((int(t), int(o), str(x)))
        rows = sorted(buffered + new_rows)
        if not rows:
            state.remove()
            return
        wm_us = state.getCurrentWatermarkMs() * 1000
        groups = fold_trace_groups(rows, wait_us)
        emit = [g for g in groups if g[0] <= wm_us]
        n_emitted = sum(g[1] for g in emit)
        retained = rows[n_emitted:]
        if retained:
            state.update(
                (
                    [r[0] for r in retained],
                    [r[1] for r in retained],
                    [r[2] for r in retained],
                )
            )
            # wake when the watermark passes the first pending release
            # (strictly later than the current watermark by construction)
            state.setTimeoutTimestamp(retained[0][0] // 1000 + wait_us // 1000 + 1)
        else:
            state.remove()
        if emit:
            yield pd.DataFrame(
                [(conv_id, *g) for g in emit],
                columns=["conv_id", "release_us", "n_turns", "transcript", "first_ts_us", "last_ts_us"],
            )

    staged = df.withWatermark(ts_col, watermark).select(
        F.col(trace_col).alias("conv_id"),
        F.col(order_col),
        F.col(text_col),
        F.col(ts_col),  # the watermarked event-time attribute must survive
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
    )
    return staged.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=_GBT_OUT,
        stateStructType=_GBT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_log_dedup(
    df: DataFrame,
    ts_col: str = "ts",
    interval_s: int = 10,
    key_cols: list[str] | None = None,
    watermark: str = "10 seconds",
) -> DataFrame:
    """logdedupprocessor's interval flush on a stream: the batch log_dedup
    is already a tumbling-interval groupBy, so the streaming twin is the
    SAME aggregation keyed on a watermark-tracked ``F.window`` (Spark
    requires the event-time window for streaming aggregation state; its
    start equals the batch path's floor(ts/interval)·interval exactly) —
    each interval's collapsed rows flush once the watermark passes the
    window end, the interval ticker of
    processor/logdedupprocessor/counter.go:47-84 in event time. Batch
    frames take the batch path unchanged, so outputs are comparable
    column-for-column."""
    from ..operators.aggregate import log_dedup

    if not df.isStreaming:
        return log_dedup(df, ts_col=ts_col, interval_s=interval_s, key_cols=key_cols)
    keys = key_cols or ["text", "role", "tool"]
    tsc = F.col(ts_col).cast("timestamp")
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(tsc, f"{interval_s} seconds").alias("_w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("log_count"),
            F.min(F.unix_micros(tsc)).alias("first_observed_us"),
            F.max(F.unix_micros(tsc)).alias("last_observed_us"),
        )
        .select(
            F.unix_timestamp(F.col("_w.start")).cast("bigint").alias("window_start"),
            *keys,
            "log_count",
            "first_observed_us",
            "last_observed_us",
        )
    )


def streaming_interval_last(
    df: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "latency_ms",
    interval_s: int = 60,
    watermark: str = "10 seconds",
) -> DataFrame:
    """intervalprocessor's periodic flush on a stream (the reference
    flushes the last datapoint per stream identity on an interval ticker;
    processor/intervalprocessor): the batch interval_last is a tumbling
    groupBy, so the twin keys the SAME max_by aggregation on a
    watermark-tracked window — each interval's last datapoint flushes
    when the watermark passes the window end. Batch frames take the
    batch path unchanged (identical columns)."""
    from ..operators.aggregate import interval_last

    if not df.isStreaming:
        return interval_last(df, id_cols, ts_col, value_col, interval_s=interval_s)
    tsc = F.col(ts_col).cast("timestamp")
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(tsc, f"{interval_s} seconds").alias("_w"), *id_cols)
        .agg(
            F.max_by(
                F.col(value_col), F.struct(F.col(ts_col), F.col(value_col))
            ).alias("last_value"),
            F.max(F.col(value_col)).alias("max_value"),
        )
        .select(
            F.unix_timestamp(F.col("_w.start")).cast("bigint").alias("window_start"),
            *id_cols,
            "last_value",
            "max_value",
        )
    )


def streaming_cardinality_guard(
    df: DataFrame,
    key_cols: list[str],
    limit: int,
    interval_s: int = 60,
    ts_col: str = "ts",
    watermark: str = "10 seconds",
) -> DataFrame:
    """cardinalityguardianprocessor on a stream: per tumbling interval,
    the HLL distinct-count of each guarded key column + the over-limit
    flag — the label-explosion alarm evaluated continuously instead of
    per batch. One windowed aggregation computes every key's sketch
    (approx_count_distinct is hash-based and deterministic, so the batch
    path — same code minus the watermark — is row-identical and the
    equality test is exact); a stack() projection melts the per-column
    counts into the batch guard's (key, distinct_count, over_limit)
    shape."""
    tsc = F.col(ts_col).cast("timestamp")
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    agg = src.groupBy(F.window(tsc, f"{interval_s} seconds").alias("_w")).agg(
        *[F.approx_count_distinct(c).alias(f"_d_{c}") for c in key_cols]
    )
    stack = ", ".join(f"'{c}', _d_{c}" for c in key_cols)
    return agg.selectExpr(
        "CAST(unix_timestamp(_w.start) AS BIGINT) AS window_start",
        f"stack({len(key_cols)}, {stack}) AS (key, distinct_count)",
    ).withColumn("over_limit", F.col("distinct_count") > limit)


def streaming_keep_first_dedup(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 4,
    rows: int = 2,
    trigger_available_now: bool = True,
):
    """Streaming corpus dedup: documents arrive as parquet files; every
    micro-batch dedups against the accumulated (buckets, shingles) LSH
    state — dedup.dedup_keep_first_incremental inside foreachBatch — and
    only NOVEL docs reach the sink. State lives in two snapshot-store
    tables (plans/snapshots.py) under `{out_dir}/state`, so a restart
    resumes from the last committed state + checkpoint, and the novel
    output is idempotent under micro-batch retry (per-batch overwrite
    partitions, the write_stream_sinks pattern). Matching a previously
    DROPPED doc still drops the newcomer (tombstones), so the streamed
    result equals the one-shot keep-first rule over everything seen.

    This is the shape a 100 TB crawl-ingest runs: per batch, index build is
    O(batch) and the joins against state are shuffle equi-joins — never a
    rescan of corpus text."""
    import os

    from ..operators.dedup import (
        dedup_keep_first_incremental,
        pack_dedup_state,
        unpack_dedup_state,
    )
    from ..plans.snapshots import SnapshotStore, read_snapshot, write_snapshot

    state_tbl = os.path.join(out_dir, "state")
    novel_dir = os.path.join(out_dir, "novel")

    stream = (
        spark.readStream.schema(f"{id_col} long, {text_col} string")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cur = SnapshotStore(state_tbl).current()
        # `files` can be empty if the first committed batch was itself empty
        state = unpack_dedup_state(read_snapshot(spark, state_tbl)) if cur and cur["files"] else None
        # the one-shot-equality contract REQUIRES batches in ascending id
        # order (keep-first is an order-dependent rule): a genuinely NEW
        # doc below the committed high-water mark means the file source
        # delivered drops out of id order — fail loudly rather than emit
        # verdicts that silently diverge from the one-shot rule. Replayed
        # docs (crash between state commit and checkpoint commit) are
        # already indexed, so the anti-join exempts them.
        prev_max = (cur.get("summary") or {}).get("max_doc") if cur else None
        if state is not None and prev_max is not None:
            from ..operators.textstats import with_shingles

            # shingle-less docs (< n tokens) carry NO index rows — the
            # explode drops them from both state tables — so a replayed
            # short doc would look "new below the high-water mark" and
            # wedge the stream on a spurious ValueError forever (round-5
            # review). Exempting them is semantically sound, not just
            # pragmatic: a doc with no shingles can never collide, its
            # keep-first verdict is order-INdependent, so the one-shot
            # equality holds for it regardless of arrival order.
            stale_new = (
                with_shingles(batch_df.filter(F.col(id_col) < prev_max), text_col)
                .filter(F.size("shingles") > 0)
                .select(F.col(id_col).alias("doc"))
                .join(state[0].select("doc").distinct(), "doc", "left_anti")
            )
            if stale_new.limit(1).count():
                raise ValueError(
                    f"batch {batch_id} contains new ids below the committed "
                    f"high-water mark {prev_max}: out-of-order arrival breaks "
                    "the keep-first one-shot equality; re-ingest in id order"
                )
        novel, _, (bk_add, sh_add) = dedup_keep_first_incremental(
            batch_df, state, id_col, text_col,
            threshold=threshold, bands=bands, rows=rows, return_additions=True,
        )
        novel.persist()
        try:
            novel.write.mode("overwrite").parquet(f"{novel_dir}/_batch={batch_id}")
            # commit ONLY this batch's index rows, APPENDED, as ONE atomic
            # snapshot: a full-state overwrite would rewrite O(corpus) per
            # batch (quadratic total I/O), and a two-table commit could
            # crash half-done. The additions come replay-guarded from the
            # incremental op (anti-joined against indexed docs) so a
            # replayed batch appends nothing. State commits AFTER the
            # sink write: a crash in between replays the batch against the
            # old state and overwrites the same _batch partition.
            adds = pack_dedup_state(bk_add, sh_add)
            batch_max = batch_df.agg(F.max(id_col)).first()[0]
            new_max = max(
                (x for x in (prev_max, batch_max) if x is not None), default=None
            )
            write_snapshot(adds, state_tbl, mode="append", summary={"max_doc": new_max})
        finally:
            novel.unpersist()

    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_curation_gate(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    max_consecutive_failures: int = 3,
    trigger_available_now: bool = True,
):
    """Streaming per-conversation curation verdicts: turn files arrive as
    micro-batches (conversations may span batches); each batch appends to
    a snapshot-store turns archive, refreshes gate state ONLY for the
    conversations the batch touches (operators/conv_qa.py
    curation_gate_incremental), and publishes the full verdict table.

    State = two snapshot tables under `{out_dir}`: `turns` (append-only
    archive, replay-guarded by a max_batch high-water mark) and `state`
    (per-conversation component rows, overwritten per batch — one tiny
    row per conversation, never per turn). Crash/replay safety: a
    replayed batch skips the already-committed turns append, and the
    incremental refresh is idempotent (touched conversations recompute
    to identical rows from the archive). Verdicts land per-batch in
    overwrite partitions (the write_stream_sinks contract).

    At scale the touched-conv recompute reads the turns archive through
    a semi-join on conv_id — under the bucketed layout
    (plans/bucketing.py) that is a bucket-pruned read, not a table scan.
    """
    import os

    from ..operators.conv_qa import (
        curation_gate_from_state,
        curation_gate_incremental,
        curation_gate_state,
    )
    from ..plans.snapshots import SnapshotStore, read_snapshot, write_snapshot

    turns_tbl = os.path.join(out_dir, "turns")
    state_tbl = os.path.join(out_dir, "state")
    verdict_dir = os.path.join(out_dir, "verdicts")

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        turns_cur = SnapshotStore(turns_tbl).current()
        committed = (turns_cur.get("summary") or {}).get("max_batch", -1) if turns_cur else -1
        if batch_id > committed:
            write_snapshot(
                batch_df, turns_tbl, mode="append", summary={"max_batch": batch_id}
            )
        base = read_snapshot(spark, turns_tbl)
        state_cur = SnapshotStore(state_tbl).current()
        if state_cur and state_cur["files"]:
            prior = read_snapshot(spark, state_tbl)
            new_state, verdicts = curation_gate_incremental(
                base, batch_df, prior, max_consecutive_failures
            )
        else:
            new_state = curation_gate_state(base)
            verdicts = curation_gate_from_state(new_state, max_consecutive_failures)
        new_state.persist()
        try:
            verdicts.write.mode("overwrite").parquet(f"{verdict_dir}/_batch={batch_id}")
            write_snapshot(
                new_state, state_tbl, mode="overwrite", summary={"max_batch": batch_id}
            )
        finally:
            new_state.unpersist()

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_template_diff(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    masks: list | None = None,
    trigger_available_now: bool = True,
):
    """Novel-error-shape alert stream — the streaming counterpart of
    `drift.window_diff` over masked templates: every micro-batch of
    transcript turns is masked (templates.mask_template), compared
    against the accumulated historical template counts, and emits one
    alert row per template seen this batch:

        (batch_id, template, n_batch, n_hist, status 'new'|'recurring')

    'new' fires in exactly the FIRST batch a template ever appears in —
    the page-worthy event ("an error shape we have never logged started
    after this deploy"); recurring rows carry the history count for rate
    context. Alerts land under `{out_dir}/alerts/_batch=N`, history under
    `{out_dir}/state` (snapshot store).

    Exactly-once state under every crash window, without assuming the
    sink and state commit together:
      * alerts are computed against the PRE-batch state and written
        per-batch-partition overwrite (idempotent under retry);
      * history counts are committed as an aggregated OVERWRITE snapshot
        (bounded by distinct templates — ≪ corpus — so no quadratic
        append-scan growth) carrying `last_batch` in the snapshot
        summary; a replayed batch (crash after state commit, before
        checkpoint commit) sees `batch_id <= last_batch` and SKIPS both
        the state fold AND the alert rewrite — the alert write precedes
        the state commit, so a committed state implies the partition is
        already present with the correct pre-state verdicts (recomputing
        against post-commit state would flip 'new' to 'recurring');
        history never double-counts.

    Scale: per batch ONE hash agg over batch rows + one equi-join against
    the template state (state rows = distinct templates). The final state
    equals the one-shot template census over everything seen — asserted
    in tests against the batch computation."""
    import os

    from ..operators.templates import mask_template
    from ..plans.snapshots import SnapshotStore, read_snapshot, write_snapshot

    state_tbl = os.path.join(out_dir, "state")
    alerts_dir = os.path.join(out_dir, "alerts")
    stream = transcripts_stream(spark, input_path, max_files_per_trigger=1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cur = SnapshotStore(state_tbl).current()
        have_state = bool(cur and cur["files"])
        state = read_snapshot(spark, state_tbl) if have_state else None
        last_batch = (cur.get("summary") or {}).get("last_batch", -1) if cur else -1
        batch_counts = (
            batch_df.select(mask_template(F.col("text"), masks).alias("template"))
            .groupBy("template")
            .agg(F.count(F.lit(1)).alias("n_batch"))
        )
        batch_counts.persist()
        try:
            hist = (
                state.withColumnRenamed("n", "n_hist")
                if state is not None
                else spark.createDataFrame([], "template string, n_hist long")
            )
            alerts = (
                batch_counts.join(hist, "template", "left")
                .select(
                    F.lit(batch_id).alias("batch_id"),
                    "template",
                    "n_batch",
                    F.coalesce(F.col("n_hist"), F.lit(0)).alias("n_hist"),
                    F.when(F.col("n_hist").isNull(), F.lit("new"))
                    .otherwise(F.lit("recurring"))
                    .alias("status"),
                )
            )
            # BOTH writes are gated on the replay check: a replayed batch
            # (crash after the state snapshot committed but before the
            # checkpoint commit) would recompute these alerts against the
            # POST-commit state — flipping the original, page-worthy
            # 'new' rows to 'recurring' with n_hist inflated by the
            # batch's own counts — and overwrite the correct partition
            # the first attempt already wrote. The alert write precedes
            # the state commit in-program, so state-committed implies the
            # alert partition is already present and correct (round-5
            # review).
            if batch_id > last_batch:
                alerts.write.mode("overwrite").parquet(f"{alerts_dir}/_batch={batch_id}")
                folded = (
                    state.unionByName(
                        batch_counts.withColumnRenamed("n_batch", "n")
                    ).groupBy("template").agg(F.sum("n").alias("n"))
                    if state is not None
                    else batch_counts.withColumnRenamed("n_batch", "n")
                )
                write_snapshot(
                    folded, state_tbl, mode="overwrite",
                    summary={"last_batch": batch_id},
                )
        finally:
            batch_counts.unpersist()

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
