"""Stateful session operators, batch-expressed.

recombine (operator/transformer/recombine/config.go:51-63): stateful
multiline assembly — is_first_entry marks segment starts, entries combine
into one record per segment, partitioned by a source identifier.

Batch mapping: the classic segment-sum — a cumulative sum of the is_first
flag over (source ORDER BY seq) assigns a run id; groupBy(run) + ordered
string_agg assembles the segment. One window + one aggregation, both on the
same partitioning key, so AQE plans a single shuffle.

groupbytraceprocessor (processor/groupbytraceprocessor/processor.go:25-73):
buffer spans by trace id and release whole traces — in batch, groupBy(conv_id)
with collect_list IS the whole-trace view.

tailsamplingprocessor (processor/tailsamplingprocessor/processor.go, policies
in internal/sampling/*.go): buffer, then per-trace policy tree. Batch:
per-conv aggregates become boolean policy columns; composite policies are
boolean algebra; the verdict joins back or filters directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._groups import arrow_schema, bounds, group_kernel, pylist, rows_to_batch


def recombine(
    df: DataFrame,
    source_col: str,
    order_col: str,
    is_first: Column | str,
    combine_field: str = "text",
    combine_with: str = "\n",
    max_batch: int | None = None,
) -> DataFrame:
    """Segment-sum sessionization. Returns one row per assembled segment:
    (source, run_id, combined, n_lines, first_order, last_order).

    `max_batch` bounds the aggregation buffer per output row (the
    reference's max_batch_size flush, recombine/config.go:51-63): a run
    longer than max_batch entries is emitted as multiple chunk rows
    (chunk_id column added). Without it, one monster conversation's entire
    run must fit a single collect_list buffer — fine for the fixture's 8k
    turns, not something to rely on at 10^12; set max_batch in production."""
    first = F.expr(is_first) if isinstance(is_first, str) else is_first
    w = Window.partitionBy(source_col).orderBy(F.col(order_col))
    runs = df.withColumn("_first", first.cast("int")).withColumn("run_id", F.sum("_first").over(w))
    group_cols = [source_col, "run_id"]
    if max_batch is not None:
        # same partitioning key as the run window: no extra shuffle
        wr = Window.partitionBy(source_col, "run_id").orderBy(F.col(order_col))
        runs = runs.withColumn(
            "chunk_id", ((F.row_number().over(wr) - 1) / max_batch).cast("int")
        )
        group_cols.append("chunk_id")
    assembled = (
        runs.groupBy(*group_cols)
        .agg(
            # order-stable assembly: sort (order, value) structs, then join —
            # collect_list alone has no order guarantee across tasks
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(combine_field).alias("v")))),
                    lambda x: x["v"],
                ),
                combine_with,
            ).alias("combined"),
            F.count(F.lit(1)).alias("n_lines"),
            F.min(order_col).alias("first_order"),
            F.max(order_col).alias("last_order"),
        )
    )
    return assembled


def group_by_trace(
    df: DataFrame, trace_col: str = "conv_id", order_col: str = "turn_idx", max_batch: int | None = None
) -> DataFrame:
    """Whole-conversation assembly: one row per conv with ordered turn texts.
    (groupbytraceprocessor's release-whole-trace, minus the wait_duration —
    batch sees the complete table.) `max_batch` caps the per-row buffer the
    same way as recombine (chunk_id rows), mirroring the reference's
    num_traces eviction bound (groupbytraceprocessor/processor.go:33-34)."""
    group_cols: list = [trace_col]
    if max_batch is not None:
        wr = Window.partitionBy(trace_col).orderBy(F.col(order_col))
        df = df.withColumn("chunk_id", ((F.row_number().over(wr) - 1) / max_batch).cast("int"))
        group_cols.append("chunk_id")
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"), F.col("text").alias("v")))),
                lambda x: x["v"],
            ),
            "\n",
        ).alias("transcript"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("first_ts_us"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_ts_us"),
    )


def group_by_trace_waited(
    df: DataFrame,
    wait_s: int = 10,
    trace_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """groupbytraceprocessor WITH the wait_duration release semantics
    (processor/groupbytraceprocessor/processor.go:25-73: the first span of
    a trace schedules a release wait_duration later; everything buffered
    by then ships as ONE batch, and spans arriving after the release open
    a NEW buffer). Expressed in event time so batch and stream agree
    deterministically: a release group starts at the first un-grouped
    row's ts and contains every row with ts < start + wait_s; the next
    row starts the next group.

    The fold is sequential per trace (each group's start depends on the
    previous group's extent — not a fixed tumbling window), so it runs on
    the grouped Arrow kernel (`_groups.py`): one shuffle on the trace key,
    then one mapInArrow call per partition folding each trace in turn.
    The streaming twin (streaming/pipeline.py streaming_group_by_trace)
    shares `fold_trace_groups`, so the two cannot diverge."""
    out_schema = (
        f"{trace_col} string, release_us bigint, n_turns bigint, "
        "transcript string, first_ts_us bigint, last_ts_us bigint"
    )
    schema = arrow_schema(out_schema)
    wait_us = wait_s * 1_000_000

    def fold(batch, starts):
        traces, ts_us, orders, texts = (
            pylist(batch.column(c)) for c in (trace_col, "_ts_us", order_col, text_col)
        )
        out = []
        for lo, hi in bounds(starts, batch.num_rows):
            rows = sorted(
                (int(t), int(o), str(x)) for t, o, x in zip(ts_us[lo:hi], orders[lo:hi], texts[lo:hi])
            )
            out += [(traces[lo], *g) for g in fold_trace_groups(rows, wait_us)]
        return rows_to_batch(out, schema)

    staged = df.select(
        trace_col,
        order_col,
        text_col,
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
    )
    return group_kernel(staged, [trace_col], [], out_schema, fold)


def fold_trace_groups(
    rows: list[tuple[int, int, str]], wait_us: int
) -> list[tuple[int, int, str, int, int]]:
    """The shared wait_duration fold: ``rows`` are (ts_us, order, text)
    sorted ascending; returns one (release_us, n_turns, transcript,
    first_ts_us, last_ts_us) per released group. Pure Python so the batch
    kernel and the streaming state handler use the identical code path."""
    out = []
    start = None
    buf: list[str] = []
    first = last = 0
    for ts_us, _order, text in rows:
        if start is not None and ts_us >= start + wait_us:
            out.append((start + wait_us, len(buf), "\n".join(buf), first, last))
            start, buf = None, []
        if start is None:
            start = first = ts_us
        last = ts_us
        buf.append(text)
    if buf:
        out.append((start + wait_us, len(buf), "\n".join(buf), first, last))
    return out


def tail_sampling(
    df: DataFrame,
    trace_col: str = "conv_id",
    policies: dict[str, Column] | None = None,
    mode: str = "any",
) -> DataFrame:
    """Per-conversation policy decision (batch tail sampling).

    `policies` maps name → aggregate boolean Column over the conv's rows
    (e.g. F.max(col('status') == 'err')). Default policy set mirrors the
    reference's attribute/latency/span_count policies
    (internal/sampling/{string_tag_filter,latency,span_count}.go).
    Returns conv-level verdicts; join back to keep/drop rows.
    """
    pol = policies or {
        "has_error": F.max((F.col("status") == "err").cast("int")) == 1,
        "high_latency": F.sum(F.coalesce(F.col("latency_ms"), F.lit(0))) > 10000,
        "span_count": F.count(F.lit(1)) >= 100,
    }
    agg = df.groupBy(trace_col).agg(*[v.alias(k) for k, v in pol.items()])
    names = list(pol.keys())
    # NULL verdicts (e.g. max over an all-NULL status column) read as "no
    # match" = false, like the policy tree's _bool_any — without this,
    # F.least SKIPS the NULL in mode='all' (a never-matched policy could
    # not veto the AND) and a single NULL policy yields sampled=NULL,
    # which both filter(sampled) and filter(~sampled) drop (round-5
    # review).
    verdict = {n: F.coalesce(F.col(n).cast("int"), F.lit(0)) for n in names}
    if mode == "any":  # OR composite
        keep = F.greatest(*[verdict[n] for n in names]) == 1 if len(names) > 1 else verdict[names[0]] == 1
    else:  # AND composite
        keep = F.least(*[verdict[n] for n in names]) == 1 if len(names) > 1 else verdict[names[0]] == 1
    return agg.withColumn("sampled", keep)


# ---------------------------------------------------------------------------
# tail-sampling policy tree
# ---------------------------------------------------------------------------

# Policy specs mirror processor/tailsamplingprocessor/internal/sampling/*.go:
#   {"name": n, "type": "latency", "threshold_ms": T}
#   {"name": n, "type": "numeric_attribute", "key": k, "min": a, "max": b}
#   {"name": n, "type": "string_attribute", "key": k, "values": [...]}
#   {"name": n, "type": "boolean_attribute", "key": k, "value": True}
#   {"name": n, "type": "status_code", "values": [...]}        (status_code_filter.go)
#   {"name": n, "type": "span_count", "min": a, "max": b|None} (span_count_filter.go)
#   {"name": n, "type": "probabilistic", "percent": p}         (probabilistic_filter.go;
#       portable h60(trace_id) threshold so the oracle reproduces verdicts)
#   {"name": n, "type": "probabilistic_tracestate", "percent": p,
#       "tracestate_col": c, "trace_id_hex_col": c}             (probabilistic.go
#       usetracestate gate: OTEP-235 rv/TraceID randomness vs the encoded
#       threshold when any span carries ot sampling info; legacy hash else)
#   {"name": n, "type": "ottl_condition", "condition": "<OTTL bool expr>"}
#   {"name": n, "type": "and"|"or", "of": [names]}             (and_filter / composite OR)
#   {"name": n, "type": "not", "of": name}
#   {"name": n, "type": "drop", "of": [names]}                 (drop.go: match => never sample)
# Non-combinator policies aggregate over the trace's rows (any-match, the
# reference's per-span evaluation folded into bool_or). `vote=False` marks a
# helper policy excluded from the final OR.


def _bool_any(cond: Column) -> Column:
    # coalesce: a trace whose rows are all NULL for the attribute must
    # produce false (no match), matching the reference's any-span evaluation
    return F.coalesce(F.max(cond.cast("int")) == 1, F.lit(False))


def _compile_base_policy(spec: dict, trace_col: str, ts_col: str) -> Column:
    kind = spec["type"]
    if kind == "latency":
        # integer microseconds: exact and engine-portable (no float division)
        us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        return (F.max(us) - F.min(us)) >= int(spec["threshold_ms"]) * 1000
    if kind == "numeric_attribute":
        c = F.col(spec["key"])
        cond = c >= spec["min"]
        if spec.get("max") is not None:
            cond = cond & (c <= spec["max"])
        return _bool_any(cond)
    if kind == "string_attribute":
        return _bool_any(F.col(spec["key"]).isin(list(spec["values"])))
    if kind == "boolean_attribute":
        return _bool_any(F.col(spec["key"]) == spec["value"])
    if kind == "status_code":
        return _bool_any(F.col(spec.get("key", "status")).isin(list(spec["values"])))
    if kind == "span_count":
        n = F.count(F.lit(1))
        cond = n >= spec.get("min", 0)
        if spec.get("max") is not None:
            cond = cond & (n <= spec["max"])
        return cond
    if kind == "probabilistic":
        from .textstats import h60

        threshold = int(spec["percent"] / 100.0 * (1 << 60))
        return F.min(h60(F.col(trace_col))) < threshold
    if kind == "probabilistic_tracestate":
        # probabilistic.go EvaluateWithThreshold under the usetracestate
        # feature gate: when any span of the trace carries OTel sampling
        # info (an `ot` section with rv and/or th), the decision is
        # OTEP-235 — explicit rv (first across the trace; min() here for
        # a deterministic distributed equivalent) or TraceID randomness,
        # compared against ProbabilityToThreshold(percent). Traces with
        # no sampling info fall back to the engine-portable legacy hash
        # (the reference's salted FNV path).
        from .sampling import (
            ot_field_col,
            probability_to_threshold,
            rvalue_randomness_col,
            trace_id_randomness_col,
            w3c_ot_section_col,
        )
        from .textstats import h60

        ts_colname = spec.get("tracestate_col", "tracestate")
        ot = w3c_ot_section_col(F.col(ts_colname))
        rv = rvalue_randomness_col(ot_field_col(ot, "rv"))
        has_info = _bool_any(
            ot_field_col(ot, "rv").isNotNull() | ot_field_col(ot, "th").isNotNull()
        )
        tid_col = spec.get("trace_id_hex_col", trace_col)
        # NO lit(0) backstop: a trace carrying ot info (e.g. th only) but
        # with NEITHER an explicit rv NOR a 32-hex trace id has no
        # randomness source at all — coalescing to 0 would silently
        # never-sample it below 100% (round-5 review). Randomness-less
        # traces fall back to the legacy hash path instead, the same
        # philosophy as the no-info fallback.
        rnd = F.coalesce(F.min(rv), F.min(trace_id_randomness_col(F.col(tid_col))))
        try:
            otel_th = probability_to_threshold(spec["percent"] / 100.0)
        except ValueError:
            otel_th = 0 if spec["percent"] >= 100 else (1 << 56)
        legacy = F.min(h60(F.col(trace_col))) < int(spec["percent"] / 100.0 * (1 << 60))
        return F.when(has_info & rnd.isNotNull(), F.lit(otel_th) <= rnd).otherwise(legacy)
    if kind == "ottl_condition":
        from ..functions.ottl_compiler import parse_condition

        return _bool_any(F.coalesce(parse_condition(spec["condition"]), F.lit(False)))
    raise ValueError(f"unknown tail-sampling policy type {kind!r}")


def apply_policy_combinators(agg: DataFrame, policies: list[dict]) -> DataFrame:
    """Shared verdict algebra over a frame of base-policy boolean columns:
    and/or/not combinators, then `sampled` = OR of voting policies AND NOT
    any drop policy. Used by the batch and the session-window streaming
    tail samplers so their semantics cannot diverge. Raises when no policy
    votes — an all-drop/all-helper tree can never sample anything."""

    def _any_of(names: list[str]) -> Column:
        cols = [F.col(n).cast("int") for n in names]
        return (F.greatest(*cols) if len(cols) > 1 else cols[0]) == 1

    def _all_of(names: list[str]) -> Column:
        cols = [F.col(n).cast("int") for n in names]
        return (F.least(*cols) if len(cols) > 1 else cols[0]) == 1

    for p in [p for p in policies if p["type"] in ("and", "or", "not", "drop")]:
        if p["type"] == "and":
            c = _all_of(p["of"])
        elif p["type"] == "or":
            c = _any_of(p["of"])
        elif p["type"] == "not":
            c = ~F.col(p["of"])
        else:  # drop
            c = _any_of(p["of"])
        agg = agg.withColumn(p["name"], c)
    voters = [p["name"] for p in policies if p.get("vote", True) and p["type"] != "drop"]
    if not voters:
        raise ValueError("tail sampling needs at least one voting (non-drop) policy")
    drops = [p["name"] for p in policies if p["type"] == "drop"]
    sampled = _any_of(voters)
    for d in drops:
        sampled = sampled & ~F.col(d)
    return agg.withColumn("sampled", sampled)


def tail_sampling_policies(
    df: DataFrame,
    policies: list[dict],
    trace_col: str = "conv_id",
    ts_col: str = "ts",
    rate_limit_per_minute: int | None = None,
) -> DataFrame:
    """Full tail-sampling policy-tree evaluation, batch-expressed.

    One hash aggregation computes every base policy verdict per trace;
    combinators (and/or/not/drop) are column algebra on the verdict frame —
    the reference's per-trace policy loop (tailsamplingprocessor
    processor.go makeDecision) folded into a single groupBy + projection.
    `sampled` = OR of voting policies AND NOT any drop policy.

    rate_limiting (rate_limiting.go) batch analogue: at most N sampled
    traces per minute of trace start time, deterministic preference order
    (trace id) — `final_sampled` carries the capped verdict. One window over
    (minute-bucket, sampled), cheap because it runs on the per-trace frame,
    not the row stream."""
    base = [p for p in policies if p["type"] not in ("and", "or", "not", "drop")]
    aggs = [_compile_base_policy(p, trace_col, ts_col).alias(p["name"]) for p in base]
    aggs.append(
        (F.floor(F.min(F.unix_micros(F.col(ts_col).cast("timestamp"))) / 60_000_000)).cast("long").alias("_minute")
    )
    agg = df.groupBy(trace_col).agg(*aggs)
    agg = apply_policy_combinators(agg, policies)
    if rate_limit_per_minute is None:
        return agg.drop("_minute")
    w = Window.partitionBy("_minute", "sampled").orderBy(F.col(trace_col))
    return (
        agg.withColumn("_rn", F.row_number().over(w))
        .withColumn("final_sampled", F.col("sampled") & (F.col("_rn") <= rate_limit_per_minute))
        .drop("_minute", "_rn")
    )
