"""Aggregation operators: count/sum connectors, logdedup, groupbyattrs,
interval, delta/cumulative family, metricstransform, spanmetrics.

Every operator here is a Catalyst hash aggregation — partial (map-side)
combine + final merge comes free, which is the whole reason these beat the
reference's per-record counters at scale. The one thing Spark does NOT give
for free is hot-key skew inside a single group-by; `salted_agg` implements
the two-phase salted aggregation the north rule requires for monster
conversations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- countconnector (connector/countconnector/counter.go:20-149) -----------
def count_connector(
    df: DataFrame,
    dims: list[str],
    condition: Column | str | None = None,
    default_value: str = "null",
    out_col: str = "log_count",
) -> DataFrame:
    """Count records matching `condition` grouped by attribute dims; missing
    dim values get `default_value` (counter.go README `default_value`)."""
    out = df
    if condition is not None:
        out = out.filter(F.expr(condition) if isinstance(condition, str) else condition)
    sel = [F.coalesce(F.col(d).cast("string"), F.lit(default_value)).alias(d) for d in dims]
    return out.select(*sel).groupBy(*dims).agg(F.count(F.lit(1)).alias(out_col))


# --- sumconnector (connector/sumconnector/sum.go:21-60) ---------------------
def sum_connector(
    df: DataFrame,
    dims: list[str],
    source: str,
    condition: Column | str | None = None,
    out_col: str = "total",
) -> DataFrame:
    out = df
    if condition is not None:
        out = out.filter(F.expr(condition) if isinstance(condition, str) else condition)
    return out.groupBy(*dims).agg(F.sum(F.col(source).cast("double")).alias(out_col))


# --- logdedupprocessor (processor/logdedupprocessor/counter.go:47-84,203) ---
def log_dedup(
    df: DataFrame,
    ts_col: str = "ts",
    interval_s: int = 10,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Per tumbling interval, collapse identical records (key = body +
    severity + attrs minus excluded fields) to one row + log_count +
    first/last observed ts. Window start is emitted as epoch seconds so the
    result is engine-portable."""
    keys = key_cols or ["text", "role", "tool"]
    win = (F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / interval_s) * interval_s).cast("bigint")
    return (
        df.withColumn("window_start", win)
        .groupBy("window_start", *keys)
        .agg(
            F.count(F.lit(1)).alias("log_count"),
            F.min(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("first_observed_us"),
            F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("last_observed_us"),
        )
    )


# --- groupbyattrsprocessor (processor/groupbyattrsprocessor/processor.go:63-99)
def group_by_attrs(df: DataFrame, keys: list[str], agg_exprs: dict[str, Column] | None = None) -> DataFrame:
    """Promote attributes to grouping identity. In a relational model this IS
    groupBy; default aggregates mirror the per-conv rollup the north star
    names (turn counts, first/last ts)."""
    aggs = agg_exprs or {
        "turn_count": F.count(F.lit(1)),
        "first_ts_us": F.min(F.unix_micros(F.col("ts").cast("timestamp"))),
        "last_ts_us": F.max(F.unix_micros(F.col("ts").cast("timestamp"))),
    }
    return df.groupBy(*keys).agg(*[v.alias(k) for k, v in aggs.items()])


# --- salted two-phase aggregation (north-rule skew requirement) -------------
def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_source: str = "turn_idx",
) -> DataFrame:
    """Two-phase aggregation for skewed keys (monster conversations).

    Phase 1 groups by (keys, salt) — a hot key's rows spread over
    `salt_buckets` reducers; phase 2 merges the partials. Only
    merge-decomposable aggs are accepted: count/sum/min/max.

    `aggs`: out_col -> (fn, src_col) with fn in {count,sum,min,max}.
    The reference has NO answer to this (a hot trace pins one goroutine,
    processor/groupbytraceprocessor/processor.go:27-34 just hashes and hopes).
    """
    salt = F.pmod(F.hash(F.col(salt_source)), F.lit(salt_buckets)).alias("_salt")
    phase1_aggs = []
    phase2_aggs = []
    for out, (fn, src) in aggs.items():
        part = f"_p_{out}"
        if fn == "count":
            phase1_aggs.append(F.count(F.lit(1)).alias(part))
            phase2_aggs.append(F.sum(part).alias(out))
        elif fn == "sum":
            phase1_aggs.append(F.sum(src).alias(part))
            phase2_aggs.append(F.sum(part).alias(out))
        elif fn == "min":
            phase1_aggs.append(F.min(src).alias(part))
            phase2_aggs.append(F.min(part).alias(out))
        elif fn == "max":
            phase1_aggs.append(F.max(src).alias(part))
            phase2_aggs.append(F.max(part).alias(out))
        else:
            raise ValueError(f"non-decomposable agg: {fn}")
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*phase1_aggs)
    return partial.groupBy(*keys).agg(*phase2_aggs)


# --- intervalprocessor (processor/intervalprocessor/processor.go:102,186-209)
def interval_last(df: DataFrame, id_cols: list[str], ts_col: str, value_col: str, interval_s: int = 60) -> DataFrame:
    """Keep the LAST datapoint per stream identity per tumbling interval."""
    win = (F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / interval_s) * interval_s).cast("bigint")
    out = df.withColumn("window_start", win)
    return out.groupBy("window_start", *id_cols).agg(
        F.max_by(F.col(value_col), F.struct(F.col(ts_col), F.col(value_col))).alias("last_value"),
        F.max(F.col(value_col)).alias("max_value"),
    )


# --- delta/cumulative family -------------------------------------------------
# `order_cols` may include a tiebreaker (e.g. ["ts", "event_id"]) — rows-based
# windows over an ambiguous order are nondeterministic across engines.


def _ord(order_cols: list[str] | str) -> list:
    cols = [order_cols] if isinstance(order_cols, str) else order_cols
    return [F.col(c) for c in cols]


def delta_to_cumulative(df: DataFrame, id_cols: list[str], order_cols: list[str] | str, value_col: str, out_col: str = "cumulative") -> DataFrame:
    """processor/deltatocumulativeprocessor — running sum per stream."""
    from pyspark.sql import Window

    w = Window.partitionBy(*id_cols).orderBy(*_ord(order_cols)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out_col, F.sum(F.col(value_col)).over(w))


def cumulative_to_delta(df: DataFrame, id_cols: list[str], order_cols: list[str] | str, value_col: str, out_col: str = "delta") -> DataFrame:
    """processor/cumulativetodeltaprocessor — diff vs previous point."""
    from pyspark.sql import Window

    w = Window.partitionBy(*id_cols).orderBy(*_ord(order_cols))
    return df.withColumn(out_col, F.col(value_col) - F.lag(F.col(value_col)).over(w))


def delta_to_rate(df: DataFrame, id_cols: list[str], order_cols: list[str] | str, value_col: str, ts_col: str | None = None, out_col: str = "rate") -> DataFrame:
    """processor/deltatorateprocessor — delta ÷ seconds since previous."""
    from pyspark.sql import Window

    ts = ts_col or (order_cols if isinstance(order_cols, str) else order_cols[0])
    w = Window.partitionBy(*id_cols).orderBy(*_ord(order_cols))
    dt = F.unix_timestamp(F.col(ts).cast("timestamp")) - F.unix_timestamp(F.lag(F.col(ts)).over(w).cast("timestamp"))
    return df.withColumn(out_col, F.when(dt > 0, F.col(value_col) / dt))


# --- metricstransformprocessor aggregate_labels ------------------------------
def metrics_transform_agg(df: DataFrame, kept_labels: list[str], value_col: str) -> DataFrame:
    """internal/coreinternal/aggregateutil/type.go:15-37 — sum/mean/min/max/
    median/count across collapsed label sets. Median is EXACT percentile
    (matches a row-at-a-time reference; approx_percentile would diverge)."""
    v = F.col(value_col)
    return df.groupBy(*kept_labels).agg(
        F.sum(v).alias("agg_sum"),
        F.avg(v).alias("agg_mean"),
        F.min(v).alias("agg_min"),
        F.max(v).alias("agg_max"),
        F.expr(f"percentile({value_col}, 0.5)").alias("agg_median"),
        F.count(v).alias("agg_count"),
    )


# --- metricstransformprocessor row-level modes -------------------------------
def metrics_transform_rows(
    df: DataFrame,
    transforms: list[dict],
    name_col: str = "metric_name",
    value_col: str = "value",
    labels_col: str = "labels",
) -> DataFrame:
    """metricstransformprocessor actions beyond aggregate_labels
    (processor/metricstransformprocessor/config.go:83-137): update (in-place
    rename + datapoint ops), insert (transformed copy appended), combine
    (regexp-matched metrics merged under one name). Datapoint operations:
    scale_value (experimental_scale_value), add_label, update_label (label
    rename), delete_label_value (drops matching datapoints).

    Metric model: one row per datapoint — (name, labels MAP<string,string>,
    value). Transforms apply SEQUENTIALLY over the whole metric set, so an
    inserted copy is visible to later transforms (the reference iterates
    transforms over the accumulated pmetric set the same way). Everything is
    a when-guarded projection or a union — no shuffle at all; at 100 TB the
    whole transform chain fuses into the scan projection.
    aggregate_labels stays in metrics_transform_agg (it IS an aggregation)."""

    def _match(t) -> Column:
        if t.get("match_type") == "regexp":
            return F.col(name_col).rlike(t["include"])
        return F.col(name_col) == t["include"]

    def _apply_ops(frame: DataFrame, match_expr: Column, t: dict) -> DataFrame:
        # materialize the match BEFORE any op: new_name rewrites name_col,
        # and a match expression re-evaluated against the renamed column
        # would stop matching mid-chain
        out = frame.withColumn("_mt_match", match_expr)
        match = F.col("_mt_match")
        if t.get("new_name"):
            out = out.withColumn(
                name_col, F.when(match, F.lit(t["new_name"])).otherwise(F.col(name_col))
            )
        for op in t.get("operations", []):
            act = op["action"]
            if act == "scale_value":
                out = out.withColumn(
                    value_col,
                    F.when(match, F.col(value_col) * F.lit(op["factor"])).otherwise(F.col(value_col)),
                )
            elif act == "add_label":
                # upsert: drop an existing key first — map_concat with a
                # duplicate key throws under mapKeyDedupPolicy=EXCEPTION.
                # NULL labels coalesce to an empty map (the reference adds
                # the label regardless of prior attributes).
                base_map = F.coalesce(
                    F.col(labels_col), F.create_map().cast("map<string,string>")
                )
                added = F.map_concat(
                    F.map_filter(base_map, lambda k, _v: k != op["label"]),
                    F.create_map(F.lit(op["label"]), F.lit(op["value"])),
                )
                out = out.withColumn(labels_col, F.when(match, added).otherwise(F.col(labels_col)))
            elif act == "update_label":
                renamed = F.transform_keys(
                    F.col(labels_col),
                    lambda k, _v: F.when(k == op["label"], F.lit(op["new_label"])).otherwise(k),
                )
                out = out.withColumn(labels_col, F.when(match, renamed).otherwise(F.col(labels_col)))
            elif act == "delete_label_value":
                drop = match & (F.element_at(F.col(labels_col), op["label"]) == op["value"])
                out = out.filter(~F.coalesce(drop, F.lit(False)))
            elif act == "aggregate_label_values":
                # collapse a set of label values into one (config.go
                # aggregate_label_values); in the row-per-datapoint model the
                # value rewrite IS the merge key change — the next hash
                # aggregation merges the datapoints
                merged = F.transform_values(
                    F.col(labels_col),
                    lambda k, v: F.when(
                        (k == op["label"]) & v.isin(list(op["values"])), F.lit(op["new_value"])
                    ).otherwise(v),
                )
                out = out.withColumn(labels_col, F.when(match, merged).otherwise(F.col(labels_col)))
            elif act == "toggle_scalar_data_type":
                # double -> int truncation (the datapoint-visible effect of
                # the reference's type toggle; the column stays double-typed)
                out = out.withColumn(
                    value_col,
                    F.when(match, F.col(value_col).cast("long").cast("double")).otherwise(F.col(value_col)),
                )
            else:
                raise ValueError(f"unknown metricstransform operation {act!r}")
        return out.drop("_mt_match")

    out = df
    for t in transforms:
        action = t.get("action", "update")
        match = _match(t)
        if action in ("update", "combine"):
            # combine = regexp-matched metrics renamed under one roof; the
            # datapoint union IS the merge in a row-per-datapoint model
            out = _apply_ops(out, match, t)
        elif action == "insert":
            copy = _apply_ops(out.filter(match), F.lit(True), t)
            out = out.unionByName(copy)
        else:
            raise ValueError(f"unknown metricstransform action {action!r}")
    return out


# --- spanmetricsconnector (explicit-bucket histogram) -------------------------
def span_metrics_histogram(df: DataFrame, dims: list[str], value_col: str, buckets: list[float]) -> DataFrame:
    """RED-style duration histogram with explicit bounds
    (connector/spanmetricsconnector/config.go:25-29): assign each value its
    bucket upper bound via one when-chain, then hash-aggregate counts."""
    v = F.col(value_col)
    chain = None
    for b in buckets:
        cond = v <= F.lit(b)
        chain = F.when(cond, F.lit(float(b))) if chain is None else chain.when(cond, F.lit(float(b)))
    bucket = chain.otherwise(F.lit(float("inf"))).alias("le")
    return (
        df.select(*dims, bucket)
        .groupBy(*dims, "le")
        .agg(F.count(F.lit(1)).alias("bucket_count"))
    )


def histogram_datapoints(
    df: DataFrame, dims: list[str], value_col: str, bounds: list[float]
) -> DataFrame:
    """OTLP-shaped explicit-bucket histogram datapoints: one row per dims
    group with (h_count, h_sum, bucket_counts array<long>, explicit_bounds
    array<double>) — the columnar mirror of pmetric HistogramDataPoint.
    ONE hash aggregation: each bucket count is a sum(when(..)) expression,
    assembled into the array as a post-agg projection. h_sum accumulates as
    decimal(18,6) and casts to double once (engine-order-independent, the
    repo's float-sum parity recipe)."""
    if not bounds:
        raise ValueError("bounds must be non-empty")
    v = F.col(value_col)
    conds = []
    lo = None
    for b in bounds:
        c = (v <= F.lit(float(b))) if lo is None else ((v > F.lit(float(lo))) & (v <= F.lit(float(b))))
        conds.append(c)
        lo = b
    conds.append(v > F.lit(float(bounds[-1])))  # overflow bucket
    aggs = [
        F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))).cast("long").alias(f"_b{i}")
        for i, c in enumerate(conds)
    ]
    out = df.groupBy(*dims).agg(
        # count NON-NULL values: a NULL lands in no bucket, and OTLP
        # consumers rely on h_count == sum(bucket_counts)
        F.count(v).alias("h_count"),
        F.sum(v.cast("decimal(18,6)")).cast("double").alias("h_sum"),
        *aggs,
    )
    return out.select(
        *dims,
        "h_count",
        "h_sum",
        F.array(*[F.col(f"_b{i}") for i in range(len(conds))]).alias("bucket_counts"),
        F.array(*[F.lit(float(b)) for b in bounds]).alias("explicit_bounds"),
    )


def histogram_merge(df: DataFrame, dims: list[str]) -> DataFrame:
    """metricstransformprocessor aggregate_labels over histogram datapoints
    (metrics_transform_processor.go histogram branch): datapoints that agree
    on `dims` (and on explicit_bounds — bounds are part of the group key, as
    in the reference) merge by element-wise bucket_counts sum + count/sum
    sums.

    Plan: posexplode the bucket arrays → hash-aggregate per (dims, bounds,
    pos) → reassemble per group. Rows are datapoints × n_buckets (linear);
    the alternative — collect_list of whole arrays per group — buffers an
    unbounded datapoint set per reducer, which is exactly what breaks on a
    skewed group at 100 TB."""
    ride = (F.col("pos") == 0) | F.col("pos").isNull()
    ex = df.select(
        *dims,
        F.col("explicit_bounds"),
        F.col("h_count"),
        F.col("h_sum"),
        # a NULL bucket list (e.g. an on_error=send row from
        # histogram_rebucket) must POISON the group's buckets, not vanish
        F.col("bucket_counts").isNull().alias("_nullb"),
        # OUTER: NULL/empty-bucket rows still contribute count/sum
        F.posexplode_outer(F.col("bucket_counts")).alias("pos", "cnt"),
    ).select(
        *dims,
        "explicit_bounds",
        "pos",
        "cnt",
        "_nullb",
        # count/sum ride along on one row per datapoint, so the second
        # aggregation can sum them without double counting
        F.when(ride, F.col("h_count")).alias("hc"),
        F.when(ride, F.col("h_sum").cast("decimal(18,6)")).alias("hs"),
    )
    per_pos = ex.groupBy(*dims, "explicit_bounds", "pos").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("hc").alias("hc"),
        F.sum("hs").alias("hs"),
        F.max("_nullb").alias("_nullb"),
    )
    return (
        per_pos.groupBy(*dims, "explicit_bounds")
        .agg(
            F.when(
                ~F.max("_nullb"),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("pos").isNotNull(), F.struct(F.col("pos"), F.col("cnt")))
                        )
                    ),
                    lambda s: s["cnt"],
                ),
            ).alias("bucket_counts"),
            F.sum("hc").alias("h_count"),
            F.sum("hs").cast("double").alias("h_sum"),
        )
        .select(*dims, "h_count", "h_sum", "bucket_counts", "explicit_bounds")
    )


def histogram_rebucket(df: DataFrame, new_bounds: list[float]) -> DataFrame:
    """Coarsen a histogram datapoint to `new_bounds` — the batch analogue of
    OTTL merge_histogram_buckets(method=remove_explicit_bound)
    (transformprocessor/internal/metrics/func_merge_histogram_buckets.go:84:
    removing a bound folds its bucket into the next one; keeping a SUBSET of
    bounds is removing all the others). Valid only when every new bound
    exists in the row's explicit_bounds; rows where it doesn't yield NULL
    arrays (on_error=send). Pure projection over the arrays — zero shuffle;
    the per-row cumulative sums are k_new slice-folds over a ≤ few-dozen
    element array."""
    b, c = F.col("explicit_bounds"), F.col("bucket_counts")

    def cum_at(bound: float) -> Column:
        idx = F.array_position(b, F.lit(float(bound))).cast("int")
        return F.aggregate(F.slice(c, 1, idx), F.lit(0).cast("bigint"), lambda a, x: a + x)

    total = F.aggregate(c, F.lit(0).cast("bigint"), lambda a, x: a + x)
    cums = [cum_at(nb) for nb in new_bounds]
    pieces = [cums[0]] + [cums[i] - cums[i - 1] for i in range(1, len(cums))] + [total - cums[-1]]
    valid = F.forall(
        F.array(*[F.lit(float(nb)) for nb in new_bounds]), lambda x: F.array_contains(b, x)
    )
    return df.withColumn(
        "bucket_counts",
        F.when(valid, F.array(*pieces)).otherwise(F.lit(None).cast("array<bigint>")),
    ).withColumn(
        "explicit_bounds",
        F.when(valid, F.array(*[F.lit(float(nb)) for nb in new_bounds])).otherwise(
            F.lit(None).cast("array<double>")
        ),
    )


def exp_histogram_downscale(df: DataFrame, target_scale: int) -> DataFrame:
    """OTLP exponential-histogram downscaling — the columnar mirror of
    deltatocumulativeprocessor/internal/data/expo/scale.go `Downscale`/
    `Collapse`: lowering the scale by d maps absolute bucket index i to
    floor(i / 2^d) (perfect subsetting), so adjacent buckets fold together
    and the offset floors. Rows whose scale is BELOW the target yield NULL
    buckets — upscaling would have to split counts and is impossible
    without error (scale.go:52 panics there; columnar on_error=send).

    Input/output datapoint shape: (scale int, zero_count long, offset int,
    bucket_counts array<long>). Pure projection — zero shuffle; the
    per-row regrouping is O(len_new × len_old) array folds with len ≤ 160
    (the reference's own maxBuckets)."""
    d = F.col("scale") - F.lit(int(target_scale))
    # floor division toward -inf (SQL int division truncates toward zero);
    # exact in doubles for any realistic index magnitude
    two_d = F.pow(F.lit(2.0), d.cast("double"))

    def down(idx: Column) -> Column:
        return F.floor(idx.cast("double") / two_d).cast("int")

    c = F.col("bucket_counts")
    new_off = down(F.col("offset"))
    new_hi = down(F.col("offset") + F.size(c) - 1)
    new_counts = F.transform(
        F.sequence(new_off, new_hi),
        lambda k: F.aggregate(
            F.filter(
                F.sequence(F.lit(0), F.size(c) - 1),
                lambda p: down(F.col("offset") + p) == k,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, p: acc + F.element_at(c, p + 1),
        ),
    )
    ok = d >= 0
    # empty bucket list (a series whose every observation was zero carries
    # only zero_count): keep it empty — the unguarded sequence(new_off,
    # new_hi) would run DESCENDING and crash element_at
    counts_out = F.when(F.size(c) == 0, F.array().cast("array<bigint>")).otherwise(new_counts)
    return (
        df.withColumn("bucket_counts", F.when(ok, counts_out).otherwise(F.lit(None).cast("array<bigint>")))
        .withColumn("offset", F.when(ok, new_off).otherwise(F.lit(None).cast("int")))
        .withColumn("scale", F.when(ok, F.lit(int(target_scale))).otherwise(F.lit(None).cast("int")))
    )


def exp_histogram_merge(df: DataFrame, dims: list[str]) -> DataFrame:
    """Merge exponential-histogram datapoints per `dims` — the Adder
    semantics of deltatocumulativeprocessor/internal/data/add.go
    `Exponential` (via expo.Downscale to the pair's minimum scale, then
    index-aligned bucket adds): every row downscales to its group's MIN
    scale, then bucket counts add at matching absolute indexes; the result
    spans [min offset, max high] with zero-fill; zero_count/h_count/h_sum
    sum (h_sum via the decimal accumulate recipe).

    Plan: one window (min scale per group — no join), the same zero-shuffle
    downscale projection as exp_histogram_downscale (dynamic d), then
    posexplode → hash-aggregate per (dims, abs index) → per-group assembly
    from a map literal. Linear rows, two exchanges, no collect_list of
    whole arrays per reducer."""
    from pyspark.sql import Window

    w = Window.partitionBy(*dims)
    pre = df.withColumn("_target", F.min("scale").over(w))
    d = F.col("scale") - F.col("_target")
    two_d = F.pow(F.lit(2.0), d.cast("double"))

    def down(idx: Column) -> Column:
        return F.floor(idx.cast("double") / two_d).cast("int")

    c = F.col("bucket_counts")
    new_off = down(F.col("offset"))
    new_hi = down(F.col("offset") + F.size(c) - 1)
    new_counts = F.transform(
        F.sequence(new_off, new_hi),
        lambda k: F.aggregate(
            F.filter(
                F.sequence(F.lit(0), F.size(c) - 1),
                lambda p: down(F.col("offset") + p) == k,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, p: acc + F.element_at(c, p + 1),
        ),
    )
    # two projections: aliasing `_target AS scale` / `_noff AS offset` in the
    # same select would make the downscale expressions resolve the LATERAL
    # aliases (Spark 3.4+ lateral column alias rules) instead of the inputs
    aligned = pre.select(
        *dims,
        "_target",
        "zero_count",
        "h_count",
        "h_sum",
        new_off.alias("_noff"),
        # empty bucket list stays empty (unguarded descending sequence
        # would crash); posexplode_outer below keeps the row's scalars
        F.when(F.size(c) == 0, F.array().cast("array<bigint>"))
        .otherwise(new_counts)
        .alias("_ncnt"),
    ).select(
        *dims,
        F.col("_target").alias("scale"),
        F.col("zero_count"),
        F.col("h_count"),
        F.col("h_sum"),
        F.col("_noff").alias("offset"),
        F.col("_ncnt").alias("bucket_counts"),
    )
    # posexplode_OUTER: a zero-bucket datapoint still has zero_count/count/
    # sum to contribute — plain posexplode would silently drop them
    ride = (F.col("pos") == 0) | F.col("pos").isNull()
    ex = aligned.select(
        *dims,
        "scale",
        "zero_count",
        "h_count",
        "h_sum",
        "offset",
        F.posexplode_outer(F.col("bucket_counts")).alias("pos", "cnt"),
    ).select(
        *dims,
        "scale",
        (F.col("offset") + F.col("pos")).alias("idx"),
        "cnt",
        F.when(ride, F.col("zero_count")).alias("zc"),
        F.when(ride, F.col("h_count")).alias("hc"),
        F.when(ride, F.col("h_sum").cast("decimal(18,6)")).alias("hs"),
    )
    per_idx = ex.groupBy(*dims, "scale", "idx").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("zc").alias("zc"),
        F.sum("hc").alias("hc"),
        F.sum("hs").alias("hs"),
    )
    assembled = per_idx.groupBy(*dims, "scale").agg(
        F.min("idx").alias("offset"),
        F.max("idx").alias("_hi"),
        # the outer-explode rows carry idx NULL — they must not reach the
        # map (null keys are invalid); min/max already ignore them
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("idx").isNotNull(), F.struct(F.col("idx"), F.col("cnt")))
            )
        ).alias("_m"),
        F.sum("zc").alias("zero_count"),
        F.sum("hc").alias("h_count"),
        F.sum("hs").cast("double").alias("h_sum"),
    )
    return assembled.select(
        *dims,
        "scale",
        "zero_count",
        "h_count",
        "h_sum",
        "offset",
        # a group made ENTIRELY of zero-bucket datapoints has no indexes
        F.when(F.col("offset").isNull(), F.array().cast("array<bigint>"))
        .otherwise(
            F.transform(
                F.sequence(F.col("offset"), F.col("_hi")),
                lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(0).cast("bigint")),
            )
        )
        .alias("bucket_counts"),
    )


def exp_histogram_delta_to_cumulative(
    df: DataFrame, dims: list[str], order_col: str
) -> DataFrame:
    """deltatocumulativeprocessor for exponential histograms (its actual
    job — processor.go accumulates via data/add.go Adder.Exponential): each
    series' datapoints become running merges of all earlier deltas. Series
    = `dims`, time = `order_col` (one datapoint per order value per series,
    as the processor's state map assumes; ties all land in the same
    cumulative via RANGE frames).

    Relational shape: (1) window — per-series target scale (min) and bucket
    span at that scale; (2) zero-shuffle projection — rebase every row's
    buckets onto the series-wide span (downscale by floor(i/2^d) + zero
    pad), so every row carries the same positions; (3) posexplode + one
    cumulative window per (series, pos); scalars (zero_count/count/sum)
    cumulate on the un-exploded rows, riding the pos-0 row; (4) reassemble
    per (series, order). Rows = datapoints × span — linear, the honest
    cost of materialized cumulative buckets."""
    from pyspark.sql import Window

    w = Window.partitionBy(*dims)
    c = F.col("bucket_counts")
    pre = df.withColumn("_target", F.min("scale").over(w))
    d = F.col("scale") - F.col("_target")
    two_d = F.pow(F.lit(2.0), d.cast("double"))

    def down(idx: Column) -> Column:
        return F.floor(idx.cast("double") / two_d).cast("int")

    # zero-bucket datapoints (only zero_count observed) contribute no span:
    # NULL _rlo/_rhi keeps them out of the series window min/max, and the
    # rebase below never indexes their empty array (which would crash)
    nonempty = F.size(c) > 0
    pre = pre.withColumn("_rlo", F.when(nonempty, down(F.col("offset")))).withColumn(
        "_rhi", F.when(nonempty, down(F.col("offset") + F.size(c) - 1))
    )
    pre = pre.withColumn("_lo", F.min("_rlo").over(w)).withColumn("_hi", F.max("_rhi").over(w))
    rebased = F.when(F.col("_lo").isNull(), F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.col("_lo"), F.col("_hi")),
            lambda i: F.when(
                nonempty,
                F.aggregate(
                    F.filter(
                        F.sequence(F.lit(0), F.size(c) - 1),
                        lambda p: down(F.col("offset") + p) == i,
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, p: acc + F.element_at(c, p + 1),
                ),
            ).otherwise(F.lit(0).cast("bigint")),
        )
    )
    # materialize the rebase BEFORE aliasing `_target AS scale` / `_lo AS
    # offset`: in one select those lateral aliases would shadow the input
    # columns the rebase expressions reference
    pre = pre.withColumn("_reb", rebased)
    wcum = (
        Window.partitionBy(*dims)
        .orderBy(order_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = pre.select(
        *dims,
        F.col(order_col),
        F.col("_target").alias("scale"),
        F.col("_lo").alias("offset"),
        F.sum("zero_count").over(wcum).alias("zero_count"),
        F.sum("h_count").over(wcum).alias("h_count"),
        F.sum(F.col("h_sum").cast("decimal(18,6)")).over(wcum).cast("double").alias("h_sum"),
        F.col("_reb").alias("_reb"),
    )
    ex = base.select(
        *dims,
        order_col,
        "scale",
        "offset",
        "zero_count",
        "h_count",
        "h_sum",
        # OUTER: an all-empty series still emits its cumulative scalars
        F.posexplode_outer(F.col("_reb")).alias("pos", "cnt"),
    )
    wpos = (
        Window.partitionBy(*dims, "pos")
        .orderBy(order_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ex.withColumn("cum", F.sum("cnt").over(wpos))
    return (
        cum.groupBy(*dims, order_col, "scale", "offset", "zero_count", "h_count", "h_sum")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("pos").isNotNull(), F.struct(F.col("pos"), F.col("cum")))
                    )
                ),
                lambda s: s["cum"],
            ).alias("bucket_counts")
        )
        .select(*dims, order_col, "scale", "zero_count", "h_count", "h_sum", "offset", "bucket_counts")
    )


def histogram_limit_buckets(df: DataFrame, max_buckets: int) -> DataFrame:
    """OTTL merge_histogram_buckets(method=limit_buckets)
    (func_merge_histogram_buckets.go): halve the bucket count by collapsing
    adjacent pairs — counts[2i]+counts[2i+1], keeping every second bound —
    until the datapoint has at most `max_buckets` buckets. Each halving is
    a pure array projection; the number of rounds is fixed driver-side from
    the worst case (log2 of the column's max length can't exceed 64), and
    rows already within the limit pass through untouched each round."""
    if max_buckets < 1:
        raise ValueError("max_buckets must be >= 1")
    out = df
    # fixed-depth loop: 8 halvings shrink 256x, comfortably past the
    # reference's own 160-bucket ceiling (data/add.go maxBuckets). Each
    # round is a cheap projection and a no-op for rows already within the
    # limit; a deeper chain would bloat the Catalyst expression tree for
    # inputs that can't legitimately exist.
    for _ in range(8):
        c, b = F.col("bucket_counts"), F.col("explicit_bounds")
        n = F.size(c)
        need = n > F.lit(int(max_buckets))
        half_counts = F.transform(
            F.sequence(F.lit(0), F.ceil(n / 2).cast("int") - 1),
            # try_element_at: ANSI mode makes plain element_at THROW on the
            # odd trailing bucket's missing pair
            lambda i: F.element_at(c, 2 * i + 1)
            + F.coalesce(F.try_element_at(c, 2 * i + 2), F.lit(0).cast("bigint")),
        )
        # bounds at odd 0-based positions separate the kept pairs; an odd
        # trailing bucket keeps no extra bound (element_at coalesces to 0)
        half_bounds = F.filter(b, lambda x, i: i % 2 == 1)
        # withColumns (plural): both expressions must see the SAME input —
        # chained withColumn would size `need` against the already-halved
        # counts when rewriting the bounds
        out = out.withColumns(
            {
                "bucket_counts": F.when(need, half_counts).otherwise(c),
                "explicit_bounds": F.when(need, half_bounds).otherwise(b),
            }
        )
    return out


def histogram_scale_values(df: DataFrame, factor: float) -> DataFrame:
    """metricstransformprocessor experimental_scale_value for histograms
    (operation_scale_value.go:13: scales the sum AND the explicit bounds —
    bucket counts are invariant under a unit change). Pure projection."""
    f = F.lit(float(factor))
    return df.withColumn("h_sum", F.col("h_sum") * f).withColumn(
        "explicit_bounds", F.transform(F.col("explicit_bounds"), lambda b: b * f)
    )


def histogram_cumulative_to_delta(
    df: DataFrame, dims: list[str], order_col: str
) -> DataFrame:
    """cumulativetodeltaprocessor for explicit-bound histograms
    (cumulativetodeltaprocessor/processor.go histogram branch + its
    MetricTracker reset rule): delta = current − previous datapoint per
    series, element-wise on bucket_counts and on count/sum. The FIRST
    datapoint, a bounds change, or a count decrease (a restarted producer)
    is a RESET — the row passes through unchanged, exactly as the tracker
    re-primes its state. One lag window per series, bucket subtraction via
    zip_with — no explode, no driver state."""
    from pyspark.sql import Window

    w = Window.partitionBy(*dims).orderBy(order_col)
    pc = F.lag("bucket_counts").over(w)
    pb = F.lag("explicit_bounds").over(w)
    pn = F.lag("h_count").over(w)
    ps = F.lag("h_sum").over(w)
    reset = (
        pc.isNull()
        | (F.col("explicit_bounds") != pb)
        | (F.col("h_count") < pn)
    )
    out = df.select(
        *dims,
        order_col,
        F.col("explicit_bounds"),
        reset.alias("is_reset"),
        F.when(reset, F.col("h_count")).otherwise(F.col("h_count") - pn).alias("h_count"),
        F.when(reset, F.col("h_sum"))
        .otherwise(
            (F.col("h_sum").cast("decimal(18,6)") - ps.cast("decimal(18,6)")).cast("double")
        )
        .alias("h_sum"),
        F.when(reset, F.col("bucket_counts"))
        .otherwise(F.zip_with(F.col("bucket_counts"), pc, lambda a, b: a - b))
        .alias("bucket_counts"),
    )
    return out


# --- signaltometricsconnector (connector/signaltomericsconnector) ------------
def signal_to_metrics(df: DataFrame, specs: list[dict]) -> DataFrame:
    """Generate metric datapoints from any signal stream via compiled OTTL
    conditions/values (the connector's sum/count metric definitions):
    spec = {"name": metric name, "type": "count"|"sum", "dims": [cols],
            "condition": OTTL bool expr (optional), "value": OTTL value expr
            (sum only)}. Output rows: (metric_name, dim k=v join, value) —
    one hash aggregation per spec, unioned; every expression compiles once
    to a Column tree, so each spec is a filter+agg inside codegen."""
    from ..functions.ottl_compiler import _Parser, _lex, parse_condition

    parts: list[DataFrame] = []
    for spec in specs:
        cur = df
        if spec.get("condition"):
            cur = cur.filter(F.coalesce(parse_condition(spec["condition"]), F.lit(False)))
        dims = spec.get("dims", [])
        dim_str = F.concat_ws(
            ",", *[F.concat(F.lit(f"{d}="), F.coalesce(F.col(d).cast("string"), F.lit("null"))) for d in dims]
        )
        if spec["type"] == "count":
            agg = F.count(F.lit(1)).cast("double")
        elif spec["type"] == "sum":
            p = _Parser(_lex(spec["value"]), {"body": "text"})
            val = p.value()
            p.expect("eof")
            # exact decimal accumulation -> one pinned output type
            agg = F.sum(val.cast("decimal(18,6)")).cast("double")
        else:
            raise ValueError(f"unknown signal_to_metrics type {spec['type']!r}")
        parts.append(
            cur.withColumn("_dims", dim_str)
            .groupBy("_dims")
            .agg(agg.alias("value"))
            .select(F.lit(spec["name"]).alias("metric_name"), F.col("_dims").alias("dims"), "value")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- metricsaslogsconnector (connector/metricsaslogsconnector) ---------------
def metrics_as_logs(
    df: DataFrame,
    metric_type: str,
    name: str,
    value_col: str | None = None,
    ts_col: str | None = None,
    unit: str = "",
    description: str = "",
    is_monotonic: bool | None = None,
    temporality: str | None = None,
    histogram: dict | None = None,
    summary: dict | None = None,
) -> DataFrame:
    """metric datapoints → one structured log record each
    (connector/metricsaslogsconnector/connector.go:259-288).

    The reference copies the datapoint attrs, then stamps metric.name/.type/
    .description/.unit, body = 'metric converted to log', and per-type value
    attrs (gauge.value / sum.value + is_monotonic + temporality /
    histogram.count|sum|bucket_counts|explicit_bounds / summary.*). Here
    every attribute becomes a typed column (null = attribute absent); a
    gauge/sum value keeps the datapoint's int-vs-double type the same way
    PutInt/PutDouble do (connector.go:216-222). Pure projection — no shuffle,
    scan-speed at any size.

    `metric_type` ∈ Gauge|Sum|Histogram|Summary; `histogram` maps
    count/sum/bucket_counts/explicit_bounds (+ optional min/max) to input
    columns; `summary` maps count/sum (+ optional quantile struct-array col).
    """
    mt = metric_type.capitalize()
    cols = list(df.columns)
    out = df.select(
        *cols,
        F.lit("metric converted to log").alias("body"),
        F.lit(name).alias("metric_name"),
        F.lit(mt).alias("metric_type"),
        F.lit(description).alias("metric_description"),
        F.lit(unit).alias("metric_unit"),
    )
    if mt == "Sum":
        out = out.withColumn(
            "metric_is_monotonic", F.lit(True if is_monotonic is None else bool(is_monotonic))
        )
    else:
        out = out.withColumn("metric_is_monotonic", F.lit(None).cast("boolean"))
    if mt in ("Sum", "Histogram") or temporality is not None:
        out = out.withColumn(
            "metric_aggregation_temporality", F.lit(temporality or "Cumulative")
        )
    else:
        out = out.withColumn("metric_aggregation_temporality", F.lit(None).cast("string"))

    def _num(col_name):
        # PutInt for integral datapoints, PutDouble otherwise
        dtype = dict(df.dtypes)[col_name]
        return F.col(col_name).cast("bigint" if dtype in ("tinyint", "smallint", "int", "bigint") else "double")

    for vattr, active in (("gauge_value", mt == "Gauge"), ("sum_value", mt == "Sum")):
        if active and value_col is not None:
            out = out.withColumn(vattr, _num(value_col))
        else:
            out = out.withColumn(vattr, F.lit(None).cast("double"))
    h = histogram or {}
    out = (
        out.withColumn(
            "histogram_count",
            F.col(h["count"]).cast("bigint") if "count" in h else F.lit(None).cast("bigint"),
        )
        .withColumn(
            "histogram_sum",
            F.col(h["sum"]).cast("double") if "sum" in h else F.lit(None).cast("double"),
        )
        .withColumn(
            "histogram_bucket_counts",
            F.col(h["bucket_counts"]).cast("array<bigint>")
            if "bucket_counts" in h
            else F.lit(None).cast("array<bigint>"),
        )
        .withColumn(
            "histogram_explicit_bounds",
            F.col(h["explicit_bounds"]).cast("array<double>")
            if "explicit_bounds" in h
            else F.lit(None).cast("array<double>"),
        )
    )
    s = summary or {}
    qtype = "array<struct<quantile:double,value:double>>"
    out = (
        out.withColumn(
            "summary_count",
            F.col(s["count"]).cast("bigint") if "count" in s else F.lit(None).cast("bigint"),
        )
        .withColumn(
            "summary_sum",
            F.col(s["sum"]).cast("double") if "sum" in s else F.lit(None).cast("double"),
        )
        .withColumn(
            "summary_quantile_values",
            F.col(s["quantiles"]).cast(qtype) if "quantiles" in s else F.lit(None).cast(qtype),
        )
    )
    if ts_col is not None and ts_col != "ts":
        out = out.withColumnRenamed(ts_col, "ts")
    return out


# --- exceptionsconnector (connector/exceptionsconnector) ---------------------
def exceptions_connector(
    df: DataFrame,
    dims: list[str],
    condition: Column | str = "status = 'err'",
    message_col: str = "text",
) -> DataFrame:
    """Error-event extraction → exceptions.count metric per dim set plus the
    lexicographically-first exemplar message (the connector's
    exception-span-event → metric + exemplar shape). One filter + one hash
    aggregation."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    errs = df.filter(F.coalesce(cond, F.lit(False)))
    return errs.groupBy(*dims).agg(
        F.count(F.lit(1)).alias("exception_count"),
        F.min(message_col).alias("exemplar"),
    )


# --- grafanacloudconnector (connector/grafanacloudconnector) ------------------
def host_info_datapoints(
    df: DataFrame,
    host_identifiers: list[str],
    ts_col: str = "ts",
    interval_s: int = 3600,
    metric_name: str = "traces_host_info",
) -> DataFrame:
    """grafanacloudconnector: ConsumeTraces picks the FIRST configured
    identifier present on each resource (connector.go:79-88 breaks on the
    first HostIdentifiers hit), collects the distinct host ids, and flush()
    emits one `traces_host_info` gauge datapoint per host — attribute
    grafana.host.id, int value 1 (host_metrics.go:43-70) — plus an
    observable host count. Batch analogue: the flush interval is a tumbling
    window on the event time; the distinct (window, host) rows ARE the
    datapoints and the count metric is a groupBy over them
    (events_active_users_hourly).

    Scale: priority pick = one coalesce projection; the distinct is a
    map-side-combining hash aggregation on (window, host) — no other
    shuffle, no state. 100 TB-safe."""
    if not host_identifiers:
        raise ValueError("at least one host identifier is required")  # config.go:29
    hid = F.coalesce(*[F.col(c).cast("string") for c in host_identifiers])
    win = (
        F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / F.lit(int(interval_s)))
        * int(interval_s)
    ).cast("bigint")
    return (
        df.select(win.alias("window_start"), hid.alias("grafana_host_id"))
        .where(F.col("grafana_host_id").isNotNull())
        .distinct()
        .select(
            "window_start",
            F.lit(metric_name).alias("metric_name"),
            "grafana_host_id",
            F.lit(1).cast("long").alias("value"),
        )
    )


# --- metricstarttimeprocessor (processor/metricstarttimeprocessor) -----------
def start_time_adjust(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    strategy: str = "true_reset_point",
) -> DataFrame:
    """Start-time strategies for cumulative points that arrive without one
    (processor/metricstarttimeprocessor README + internal/{truereset,
    subtractinitial}/adjuster.go):

    - true_reset_point: the first point of a series keeps its own timestamp
      as start; later points reuse it; a reset (value < previous) opens a
      new epoch whose start = reset-point ts minus 1ms (adjuster.go:124-127).
      Values are never modified; every point is kept.
    - subtract_initial_point: the first point is DROPPED and becomes the
      reference; later points report value - reference with the initial
      point's ts as start; a reset point reports its raw value, start =
      own ts - 1ms, and re-references the epoch at 0
      (subtractinitial/adjuster.go:230-257).

    Batch shape: epochs are segment ids (running sum of first-or-reset
    flags) — two stacked windows on the series partitioning, zero joins.
    The reference's caches exist only because it streams; over a table the
    same rule is a window. Emits start_ts_us (µs) + adjusted."""
    from pyspark.sql import Window

    if strategy not in ("true_reset_point", "subtract_initial_point"):
        raise ValueError("strategy must be true_reset_point|subtract_initial_point")
    w = Window.partitionBy(*series_cols).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # reset detection compares against the last RECORDED value: a NULL
    # (NoRecordedValue) point passes through without opening an epoch and
    # without becoming the comparison reference (adjuster.go keeps such
    # points as-is and skips the previous-value update)
    prev = F.last(F.col(value_col), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    rn = F.row_number().over(w)
    first_or_reset = (rn == 1) | (
        F.col(value_col).isNotNull() & prev.isNotNull() & (F.col(value_col) < prev)
    )
    staged = df.withColumn(
        "_ts_us", F.unix_micros(F.col(ts_col).cast("timestamp"))
    ).withColumn("_rn", rn).withColumn(
        "_epoch", F.sum(first_or_reset.cast("int")).over(run)
    )
    we = Window.partitionBy(*series_cols, "_epoch").orderBy(*order_cols)
    werun = we.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    epoch_first_ts = F.first("_ts_us").over(werun)
    epoch_ref = F.first(value_col).over(werun)
    # epoch 1 starts at the series' first point ts; reset epochs start 1ms
    # before their first point
    start_us = F.when(F.col("_epoch") == 1, epoch_first_ts).otherwise(epoch_first_ts - 1000)
    if strategy == "true_reset_point":
        out = staged.withColumn("start_ts_us", start_us).withColumn(
            "adjusted", F.col(value_col).cast("double")
        )
    else:
        adjusted = F.when(
            F.col("_epoch") == 1, F.col(value_col) - epoch_ref
        ).otherwise(F.col(value_col))
        out = (
            staged.withColumn("start_ts_us", start_us)
            .withColumn("adjusted", adjusted.cast("double"))
            .filter(F.col("_rn") > 1)
        )
    return out.drop("_ts_us", "_rn", "_epoch")


# --- statsdreceiver flush aggregation -----------------------------------------
def statsd_aggregate(
    df: DataFrame,
    line_col: str = "body",
    order_col: str | None = None,
    percentiles: tuple = (50.0, 95.0),
    counter_type: str = "double",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """statsdreceiver per-flush aggregation (internal/parser/statsd_parser.go
    Aggregate :346-466 + metric_translator.go):

    * counters — value scaled by 1/sample_rate when 0<rate<1
      (counterValue :225-234), summed per (name, tags); counter_type='int'
      truncates each scaled increment to int64 BEFORE summing, mirroring
      aggregateCounterValue's per-sample SetIntValue adds;
    * gauges — a value written with a +/- sign is a RELATIVE move
      (statsd_parser.go:489-491 sets `addition`); an unsigned value resets
      the gauge (:376-385). Per flush the result is the last reset value
      plus every signed move after it — computed as one window max over the
      reset positions + a filtered sum, no per-row state;
    * timers/histograms/distributions (SummaryObserver) — weighted
      observations (weight = 1/rate, sampleValue :241-250): summary count =
      uint64(Σ weights), sum = Σ value·weight, and gonum
      stat.Quantile(Empirical) percentiles: sort by value, first value whose
      cumulative weight >= p/100 · W (verified against
      metric_translator_test.go:255-286 vectors). The quantile scan is one
      `aggregate` HOF over the group's sorted (value, weight) array.

    Input: raw statsd lines. `order_col` orders gauge resets (arrival order
    in the reference; required if any gauges are present). NaN/Inf values
    are discarded (:352-358). Output: one row per (group_cols..., st_name,
    st_tags_csv, kind) with kind-specific columns nulled elsewhere.
    """
    from .parse import parse_statsd

    if counter_type not in ("double", "int"):
        raise ValueError(f"counter_type must be 'double' or 'int', got {counter_type!r}")
    gcols = list(group_cols or [])
    parsed = parse_statsd(df, line_col)
    v = F.col("st_value")
    parsed = parsed.filter(
        F.col("st_name").isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf"))
    ).withColumn(
        "_add", F.regexp_extract(F.col(line_col), r"^[^:|#]+:([+-])", 1) != ""
    )
    keys = gcols + ["st_name", "st_tags_csv"]
    rate = F.col("st_rate")
    scaled = F.when((rate > 0) & (rate < 1), v / rate).otherwise(v)

    qcols = [f"q{p:g}".replace(".", "_") for p in percentiles]

    def pad(frame, kind):
        out = frame.withColumn("kind", F.lit(kind))
        for c, t in (("value", "double"), ("s_count", "bigint"), ("s_sum", "double"),
                     *[(q, "double") for q in qcols]):
            if c not in frame.columns:
                out = out.withColumn(c, F.lit(None).cast(t))
        return out.select(*keys, "kind", "value", "s_count", "s_sum", *qcols)

    # counters
    cval = scaled.cast("bigint") if counter_type == "int" else scaled
    counters = (
        parsed.filter(F.col("st_type") == "c")
        .groupBy(*keys)
        .agg(F.sum(cval).cast("double").alias("value"))
    )

    # gauges
    gauges_src = parsed.filter(F.col("st_type") == "g")
    if order_col is None:
        order = F.monotonically_increasing_id()
    else:
        order = F.col(order_col)
    from pyspark.sql import Window

    wg = Window.partitionBy(*keys)
    reset_pos = F.max(F.when(~F.col("_add"), order)).over(wg)
    gauges = (
        gauges_src.withColumn("_keep", reset_pos.isNull() | (order >= reset_pos))
        .filter(F.col("_keep"))
        .groupBy(*keys)
        .agg(F.sum(v).alias("value"))
    )

    # timers / histograms / distributions -> summary
    weight = F.when((rate > 0) & (rate < 1), F.lit(1.0) / rate).otherwise(F.lit(1.0))
    timers = (
        parsed.filter(F.col("st_type").isin("ms", "h", "d"))
        .withColumn("_w", weight)
        .groupBy(*keys)
        .agg(
            F.floor(F.sum("_w")).cast("bigint").alias("s_count"),
            F.sum(v * F.col("_w")).alias("s_sum"),
            F.sum("_w").alias("_W"),
            F.array_sort(F.collect_list(F.struct(v.alias("v"), F.col("_w").alias("w")))).alias("_arr"),
        )
    )
    def quantile_fold(target):
        # pyspark HOF merge lambdas must take exactly (acc, x) — close over
        # the target instead of a default arg
        def fold(acc, x):
            return F.struct(
                (acc["cum"] + x["w"]).alias("cum"),
                F.coalesce(
                    acc["found"],
                    F.when(acc["cum"] + x["w"] >= target, x["v"]),
                ).alias("found"),
            )

        return fold

    for p, qc in zip(percentiles, qcols):
        target = F.lit(float(p) / 100.0) * F.col("_W")
        timers = timers.withColumn(
            qc,
            F.aggregate(
                F.col("_arr"),
                F.struct(F.lit(0.0).alias("cum"), F.lit(None).cast("double").alias("found")),
                quantile_fold(target),
                lambda acc: acc["found"],
            ),
        )
    timers = timers.drop("_W", "_arr")

    return pad(counters, "counter").unionByName(pad(gauges, "gauge")).unionByName(
        pad(timers, "summary")
    )


# --- incremental aggregate refresh (materialized-view maintenance) ----------
def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    spec: dict[str, str],
) -> DataFrame:
    """Merge a NEW batch's aggregate into a persisted aggregate state so
    the result EQUALS a full recompute over history+batch — without ever
    rescanning history. This is the maintenance contract behind the
    count/sum connectors at 10^12 rows: history is write-once (snapshot
    commits), so every refresh should cost O(batch) + O(state), never
    O(corpus).

    ``spec`` maps each value column to its merge op:
      * 'sum'   — partial sums/counts add (NULL-absent side = identity 0)
      * 'min' / 'max' — least/greatest, NULL-safe
    Only decomposable aggregates belong here (count/sum/min/max — and avg
    as a derived sum/count pair); a non-decomposable aggregate (exact
    median, distinct count) must use its own mergeable form (exact:
    re-aggregate; approximate: Spark's hll_sketch_agg / hll_union_agg).

    Plan: ONE full-outer broadcast-or-shuffle join on the dims — both
    sides are aggregate-sized (one row per live dim combination), so the
    shuffle carries group counts, not row counts.
    """
    s = state.select(*keys, *[F.col(c).alias(f"_s_{c}") for c in spec])
    d = delta.select(*keys, *[F.col(c).alias(f"_d_{c}") for c in spec])
    joined = s.join(d, on=keys, how="full_outer")
    merged = []
    for c, op in spec.items():
        a, b = F.col(f"_s_{c}"), F.col(f"_d_{c}")
        if op == "sum":
            zero = F.lit(0).cast("bigint")
            merged.append((F.coalesce(a, zero) + F.coalesce(b, zero)).alias(c))
        elif op == "min":
            merged.append(F.least(F.coalesce(a, b), F.coalesce(b, a)).alias(c))
        elif op == "max":
            merged.append(F.greatest(F.coalesce(a, b), F.coalesce(b, a)).alias(c))
        else:
            raise ValueError(f"unmergeable op {op!r} for column {c!r}")
    return joined.select(*keys, *merged)


def rollup_report(
    df: DataFrame,
    dims: list[str],
    aggs: dict[str, Column],
    mode: str = "rollup",
) -> DataFrame:
    """Multi-granularity aggregate in ONE pass: GROUP BY ROLLUP/CUBE.

    The telemetry-report shape every dashboard needs — per-(type, hour),
    per-type, grand total — computed as a single shuffle instead of one job
    per granularity: Spark expands the grouping sets BEFORE the exchange
    and partial-aggregates each set map-side, so the network carries group
    rows, not data rows, and the scan happens once. `grouping_id` (standard
    bit encoding, first dim = MSB) disambiguates a rolled-up NULL from a
    genuine NULL dim value.

    mode: "rollup" → prefix hierarchy (d1,d2), (d1), (); "cube" → all 2^n
    subsets. At 100 TB prefer rollup — cube's 2^n expansion multiplies the
    pre-shuffle row count by the number of grouping sets.
    """
    if mode == "rollup":
        grouped = df.rollup(*dims)
    elif mode == "cube":
        grouped = df.cube(*dims)
    else:
        raise ValueError(f"mode must be rollup|cube, got {mode!r}")
    # grouping_id() is an aggregate-scope expression — it must be computed
    # in the agg itself, not a downstream projection
    out = grouped.agg(
        F.grouping_id().alias("gid"), *[c.alias(n) for n, c in aggs.items()]
    )
    return out.select("gid", *dims, *aggs.keys())


def collapse_long_tail(
    df: DataFrame,
    key_col: str,
    aggs: dict[str, Column],
    top_k: int | None = None,
    min_frac: float | None = None,
    count_col: str = "n",
    other_label: str = "__other__",
) -> DataFrame:
    """Dashboard-cardinality control: aggregate per key, keep the top-k
    (and/or every key holding ≥ min_frac of rows), and fold the long
    tail into ONE `__other__` row so totals are preserved — the
    difference between a legend with 8 entries and one with 80,000, and
    the pre-aggregation that keeps a BI export's cardinality bounded no
    matter what the key's true cardinality does.

    Selection is deterministic (count desc, key asc). Plan: one hash
    agg to per-key rows, then the two-pass DISTRIBUTED rank of
    :func:`rank.global_row_number` — no single-partition window ever
    touches the key universe (a user-keyed rollup can hold hundreds of
    millions of distinct keys at 100×; the round-4 form funnelled all of
    them through ONE task's `Window.orderBy` sort because the `min_frac`
    OR-branch defeats WindowGroupLimit pushdown). The `min_frac` total
    comes from a plain scalar aggregate, not a window. `aggs` must be
    re-aggregable sums/counts (the fold re-sums them into the
    other-row); non-additive aggregates would be silently wrong, so only
    sum/count columns belong here."""
    from .rank import global_row_number

    if top_k is None and min_frac is None:
        raise ValueError("need top_k and/or min_frac")
    from pyspark import StorageLevel

    per = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias(count_col),
        *[c.alias(n) for n, c in aggs.items()],
    )
    # the scalar total + the rank's eager passes (count, boundary sample,
    # per-bucket offsets) + the kept/other branches would otherwise each
    # re-execute the upstream scan + hash aggregation — persist the
    # aggregate-sized per-key frame once (rank.py's documented contract
    # for expensive upstreams); the cache is dropped by the ContextCleaner
    # with the result's lineage
    per = per.persist(StorageLevel.MEMORY_AND_DISK)
    keep = F.lit(False)
    if min_frac is not None:
        # grand total as a scalar: IEEE double `min_frac * tot` is
        # bit-identical to the old `lit(min_frac) * sum().over(all)`
        tot = per.agg(F.sum(count_col)).first()[0] or 0
        keep = keep | (F.col(count_col) >= F.lit(float(min_frac) * tot))
    if top_k is not None:
        per, _ = global_row_number(
            per, [(count_col, "desc"), (key_col, "asc")], out_col="_rnk"
        )
        keep = keep | (F.col("_rnk") <= top_k)
    flagged = per.withColumn("_keep", keep)
    # the key is emitted as STRING so the other-label row unions cleanly
    # with numeric keys
    kept = flagged.filter("_keep").select(
        F.col(key_col).cast("string").alias(key_col), count_col, *aggs.keys()
    )
    other = (
        flagged.filter(~F.col("_keep"))
        .groupBy()
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(n).alias(n) for n in aggs.keys()],
        )
        .filter(F.col(count_col).isNotNull())
        .select(F.lit(other_label).alias(key_col), count_col, *aggs.keys())
    )
    return kept.unionByName(other)


def histogram_exemplars(
    df: DataFrame,
    dims: list[str],
    value_col: str,
    trace_col: str,
    span_col: str,
    order_cols: list[str],
    max_per_data_point: int = 5,
) -> DataFrame:
    """spanmetrics exemplars (connector/spanmetricsconnector README
    `exemplars.max_per_data_point`, internal/metrics/metrics.go:312-320
    AddExemplar): attach up to k (trace_id, span_id, value) samples per
    datapoint group. The reference keeps the FIRST k spans by arrival
    order within the flush; batch has no arrival order, so the analogue
    is the first k by a caller-supplied stable ordering (event time +
    tiebreaker) — deterministic and rerun-stable, strictly stronger than
    the reference's whatever-arrived-first.

    Plan: one window (same hash partitioning as the histogram aggregate
    it decorates — the exchanges line up) + one hash agg; shuffle rows
    after the rank filter are bounded by groups × k."""
    from pyspark.sql import Window

    w = Window.partitionBy(*dims).orderBy(*order_cols)
    ranked = df.withColumn("_xr", F.row_number().over(w)).filter(
        F.col("_xr") <= max_per_data_point
    )
    return (
        ranked.groupBy(*dims)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_xr").alias("i"),
                        F.col(trace_col).cast("string").alias("trace_id"),
                        F.col(span_col).cast("string").alias("span_id"),
                        F.col(value_col).cast("double").alias("value"),
                    )
                )
            ).alias("_ex")
        )
        .select(
            *dims,
            F.transform(
                F.col("_ex"),
                lambda e: F.struct(
                    e["trace_id"].alias("trace_id"),
                    e["span_id"].alias("span_id"),
                    e["value"].alias("value"),
                ),
            ).alias("exemplars"),
        )
    )
