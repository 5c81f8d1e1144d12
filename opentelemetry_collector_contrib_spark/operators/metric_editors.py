"""transformprocessor metric-context editors, columnar.

The reference's metric-context OTTL editors
(processor/transformprocessor/internal/metrics/func_*.go) mutate one
pmetric.Metric at a time inside the collector's in-memory batch. Here each
editor is a DataFrame projection/union/aggregation over the repo's columnar
datapoint model (one row per datapoint):

  number    : dims..., value            (+ metric_name/type/unit/temporality
                                          /is_monotonic descriptor columns)
  histogram : dims..., h_count, h_sum, bucket_counts ARRAY<BIGINT>
              (len = len(bounds)+1, last = +Inf overflow), bounds as config
              literals, optional h_min/h_max
  summary   : dims..., s_count, s_sum,
              quantiles ARRAY<STRUCT<quantile:DOUBLE, value:DOUBLE>>
  exp hist  : dims..., scale, zero_count, offset,
              bucket_counts ARRAY<BIGINT>  (positive buckets)

Everything except the aggregate_on_* editors is a pure projection (fuses
into the scan, no shuffle at any scale); the aggregate_on_* editors are one
hash aggregation on their group key — map-side partial agg handles 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _is_int_col(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes).get(col) in _INT_TYPES


# ---------------------------------------------------------------------------
# type toggles (func_convert_sum_to_gauge.go / func_convert_gauge_to_sum.go)
# ---------------------------------------------------------------------------

def convert_sum_to_gauge(df: DataFrame, type_col: str = "metric_type") -> DataFrame:
    """func_convert_sum_to_gauge.go:30-43 — Sum datapoints become Gauge
    datapoints unchanged; gauges carry neither temporality nor monotonicity,
    so those descriptor columns null out on converted rows."""
    # null the descriptors BEFORE rewriting the type column: the predicate is
    # an unresolved expression and would otherwise re-evaluate against the
    # already-converted 'Gauge' rows
    was_sum = F.col(type_col) == "Sum"
    out = df
    for c in ("metric_aggregation_temporality", "metric_is_monotonic"):
        if c in df.columns:
            out = out.withColumn(
                c, F.when(was_sum, F.lit(None).cast(dict(df.dtypes)[c])).otherwise(F.col(c))
            )
    return out.withColumn(type_col, F.when(was_sum, F.lit("Gauge")).otherwise(F.col(type_col)))


def convert_gauge_to_sum(
    df: DataFrame, temporality: str, monotonic: bool = False, type_col: str = "metric_type"
) -> DataFrame:
    """func_convert_gauge_to_sum.go:36-62 — unknown temporality is a config
    error (not per-row); converted rows gain the temporality + monotonic
    descriptors, non-gauge rows pass through untouched."""
    if temporality not in ("delta", "cumulative"):
        raise ValueError(f"unknown aggregation temporality: {temporality}")
    # stamp descriptors BEFORE the type rewrite (see convert_sum_to_gauge)
    was_gauge = F.col(type_col) == "Gauge"
    tlit = F.lit(temporality.capitalize())
    out = df
    if "metric_aggregation_temporality" in df.columns:
        out = out.withColumn(
            "metric_aggregation_temporality",
            F.when(was_gauge, tlit).otherwise(F.col("metric_aggregation_temporality")),
        )
    else:
        out = out.withColumn("metric_aggregation_temporality", F.when(was_gauge, tlit))
    if "metric_is_monotonic" in df.columns:
        out = out.withColumn(
            "metric_is_monotonic",
            F.when(was_gauge, F.lit(bool(monotonic))).otherwise(F.col("metric_is_monotonic")),
        )
    else:
        out = out.withColumn("metric_is_monotonic", F.when(was_gauge, F.lit(bool(monotonic))))
    return out.withColumn(type_col, F.when(was_gauge, F.lit("Sum")).otherwise(F.col(type_col)))


# ---------------------------------------------------------------------------
# copy_metric (func_copy_metric.go:40-76)
# ---------------------------------------------------------------------------

def copy_metric(
    df: DataFrame,
    name: str | None = None,
    description: str | None = None,
    unit: str | None = None,
    name_col: str = "metric_name",
) -> DataFrame:
    """Appends a full copy of the metric's datapoints with optional
    name/description/unit overrides (the reference CopyTo + Set*). In the
    row-per-datapoint model the append IS a union — no shuffle."""
    copy = df
    if name is not None:
        copy = copy.withColumn(name_col, F.lit(name))
    if description is not None and "metric_description" in df.columns:
        copy = copy.withColumn("metric_description", F.lit(description))
    if unit is not None and "metric_unit" in df.columns:
        copy = copy.withColumn("metric_unit", F.lit(unit))
    return df.unionByName(copy)


# ---------------------------------------------------------------------------
# scale_metric (func_scale.go:36-130)
# ---------------------------------------------------------------------------

def scale_metric(
    df: DataFrame,
    multiplier: float,
    unit: str | None = None,
    type_col: str = "metric_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-type scaling. Gauge/Sum: the datapoint value scales, integral
    values truncate like the reference's int64(float64(v)*m) (func_scale.go
    scaleMetric). Histogram: sum/min/max and every explicit bound scale;
    bucket COUNTS do not (scaleHistogram). Summary: sum + every quantile
    value (scaleSummarySlice). Exponential histograms are rejected
    (func_scale.go:59-60). Pure projection."""
    m = F.lit(float(multiplier))
    tcol = F.col(type_col) if type_col in df.columns else F.lit("Gauge")
    out = df
    is_num = tcol.isin("Gauge", "Sum")
    if value_col in df.columns:
        scaled = (
            (F.col(value_col) * m).cast("bigint").cast(dict(df.dtypes)[value_col])
            if _is_int_col(df, value_col)
            else F.col(value_col) * m
        )
        out = out.withColumn(value_col, F.when(is_num, scaled).otherwise(F.col(value_col)))
    is_hist = tcol == F.lit("Histogram")
    for c in ("h_sum", "h_min", "h_max"):
        if c in df.columns:
            out = out.withColumn(c, F.when(is_hist, F.col(c) * m).otherwise(F.col(c)))
    if "explicit_bounds" in df.columns:
        out = out.withColumn(
            "explicit_bounds",
            F.when(
                is_hist, F.transform(F.col("explicit_bounds"), lambda b: b * m)
            ).otherwise(F.col("explicit_bounds")),
        )
    is_summ = tcol == F.lit("Summary")
    if "s_sum" in df.columns:
        out = out.withColumn("s_sum", F.when(is_summ, F.col("s_sum") * m).otherwise(F.col("s_sum")))
    if "quantiles" in df.columns:
        out = out.withColumn(
            "quantiles",
            F.when(
                is_summ,
                F.transform(
                    F.col("quantiles"),
                    lambda q: F.struct(
                        q["quantile"].alias("quantile"), (q["value"] * m).alias("value")
                    ),
                ),
            ).otherwise(F.col("quantiles")),
        )
    if unit is not None and "metric_unit" in df.columns:
        out = out.withColumn("metric_unit", F.lit(unit))
    return out


# ---------------------------------------------------------------------------
# extract_count_metric / extract_sum_metric (func_extract_{count,sum}_metric.go)
# ---------------------------------------------------------------------------

def extract_count_metric(
    df: DataFrame,
    monotonic: bool = False,
    suffix: str = "_count",
    count_col: str = "h_count",
    name_col: str = "metric_name",
    temporality: str = "Cumulative",
) -> DataFrame:
    """Histogram/exp-histogram/summary datapoints -> a Sum metric named
    `<name><suffix>` whose int value is the datapoint count, unit forced to
    '1' (func_extract_count_metric.go:38-57: 'the original metric unit does
    not apply to the count field'). Keeps every dim column; swaps the
    histogram payload for a number payload."""
    drop = [c for c in ("h_sum", "h_min", "h_max", "bucket_counts", "explicit_bounds",
                        "s_sum", "quantiles", count_col, "s_count") if c in df.columns]
    src_count = F.col(count_col if count_col in df.columns else "s_count")
    out = (
        df.withColumn("value", src_count.cast("bigint"))
        .withColumn(name_col, F.concat(F.col(name_col), F.lit(suffix)))
        .withColumn("metric_type", F.lit("Sum"))
        .withColumn("metric_unit", F.lit("1"))
        .withColumn("metric_is_monotonic", F.lit(bool(monotonic)))
        .withColumn("metric_aggregation_temporality", F.lit(temporality))
    )
    return out.drop(*drop)


def extract_sum_metric(
    df: DataFrame,
    monotonic: bool = False,
    suffix: str = "_sum",
    sum_col: str = "h_sum",
    name_col: str = "metric_name",
    temporality: str = "Cumulative",
) -> DataFrame:
    """func_extract_sum_metric.go:38-98 — same shape as extract_count but the
    double value is the datapoint sum, the ORIGINAL unit is kept, and
    datapoints without a sum (HasSum false -> NULL here) are skipped."""
    drop = [c for c in ("h_min", "h_max", "bucket_counts", "explicit_bounds",
                        "h_count", "s_count", "quantiles", sum_col, "s_sum") if c in df.columns]
    src_sum = F.col(sum_col if sum_col in df.columns else "s_sum")
    out = (
        df.filter(src_sum.isNotNull())
        .withColumn("value", src_sum.cast("double"))
        .withColumn(name_col, F.concat(F.col(name_col), F.lit(suffix)))
        .withColumn("metric_type", F.lit("Sum"))
        .withColumn("metric_is_monotonic", F.lit(bool(monotonic)))
        .withColumn("metric_aggregation_temporality", F.lit(temporality))
    )
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# extract_percentile_metric (func_extract_percentile_metric.go:46-190)
# ---------------------------------------------------------------------------

def extract_percentile_metric(
    df: DataFrame,
    percentile: float,
    bounds: list[float],
    suffix: str | None = None,
    name_col: str = "metric_name",
) -> DataFrame:
    """Explicit-bucket histogram datapoints -> a Gauge named `<name>_p<N>`
    holding the linearly-interpolated percentile
    (calculateHistogramPercentile, func_extract_percentile_metric.go:125-190):

      target = ceil(count * p/100); walk buckets until cum >= target;
      lower/upper from the bucket's bounds (bucket 0 lower = min if
      min < bounds[0] else 0; overflow bucket upper = max, or return lower
      when max is absent/<=lower); value = lower + ratio*(upper-lower) with
      ratio = (target - prev_cum)/bucket_count.

    `bounds` is config (a literal), so the per-index bound lookup compiles to
    a when-chain and the cumulative walk is one `aggregate` HOF — zero
    Python, zero shuffle. Rows with count==0 are skipped (errSkipDataPoint).
    Input needs h_count + bucket_counts (+ optional h_min/h_max)."""
    if not 0 < percentile < 100:
        raise ValueError(f"percentile must be in (0, 100), got {percentile}")
    sfx = suffix if suffix is not None else f"_p{percentile:g}"
    n = len(bounds) + 1  # bucket count; last is the +Inf overflow

    df = df.filter((F.col("h_count") > 0) & (F.size("bucket_counts") == n))
    target = F.ceil(F.col("h_count").cast("double") * F.lit(percentile / 100.0)).cast("bigint")
    df = df.withColumn("_target", target)

    if not bounds:
        # single bucket spanning (-Inf, +Inf): min AND max required
        # (func_extract_percentile_metric.go:138-146), else skip the datapoint
        if "h_min" not in df.columns or "h_max" not in df.columns:
            df = df.filter(F.lit(False)).withColumn(
                "h_min", F.lit(None).cast("double")
            ).withColumn("h_max", F.lit(None).cast("double"))
        df = df.filter(F.col("h_min").isNotNull() & F.col("h_max").isNotNull())
        ratio = F.col("_target").cast("double") / F.element_at("bucket_counts", 1).cast("double")
        out = (
            df.withColumn("value", F.col("h_min") + ratio * (F.col("h_max") - F.col("h_min")))
            .withColumn(name_col, F.concat(F.col(name_col), F.lit(sfx)))
            .withColumn("metric_type", F.lit("Gauge"))
            .drop("_target")
        )
        drop = [c for c in ("h_count", "h_sum", "h_min", "h_max", "bucket_counts",
                            "explicit_bounds", "metric_is_monotonic",
                            "metric_aggregation_temporality") if c in out.columns]
        return out.drop(*drop)

    # cumulative walk: first index whose running count reaches the target
    acc0 = F.struct(
        F.lit(0).cast("bigint").alias("cum"),
        F.lit(-1).alias("idx"),
        F.lit(0).cast("bigint").alias("prev"),
        F.lit(0).alias("pos"),
    )
    walk = F.aggregate(
        F.col("bucket_counts"),
        acc0,
        lambda acc, c: F.struct(
            (acc["cum"] + c).alias("cum"),
            F.when((acc["idx"] < 0) & (acc["cum"] + c >= F.col("_target")), acc["pos"])
            .otherwise(acc["idx"])
            .alias("idx"),
            F.when((acc["idx"] < 0) & (acc["cum"] + c >= F.col("_target")), acc["cum"])
            .otherwise(acc["prev"])
            .alias("prev"),
            (acc["pos"] + 1).alias("pos"),
        ),
    )
    df = df.withColumn("_w", walk).withColumn("_idx", F.col("_w.idx")).withColumn(
        "_prev", F.col("_w.prev")
    )

    has_min = F.col("h_min").isNotNull() if "h_min" in df.columns else F.lit(False)
    has_max = F.col("h_max").isNotNull() if "h_max" in df.columns else F.lit(False)
    h_min = F.col("h_min") if "h_min" in df.columns else F.lit(None).cast("double")
    h_max = F.col("h_max") if "h_max" in df.columns else F.lit(None).cast("double")

    def interp(lower: Column, upper: Column) -> Column:
        bucket_n = F.element_at(F.col("bucket_counts"), F.col("_idx") + 1)
        ratio = (F.col("_target") - F.col("_prev")).cast("double") / bucket_n.cast("double")
        return lower + ratio * (upper - lower)

    # bucket 0: lower = min(min, 0-ish) per reference; short-circuit when
    # 0 > upper and no usable min
    b0_upper = F.lit(float(bounds[0]))
    b0_lower = F.when(has_min & (h_min < b0_upper), h_min).otherwise(F.lit(0.0))
    b0_val = F.when(
        ~(has_min & (h_min < b0_upper)) & (F.lit(0.0) > b0_upper), b0_upper
    ).otherwise(interp(b0_lower, b0_upper))

    # interior buckets: literal bound lookup as a when-chain
    val = b0_val
    chain = F.when(F.col("_idx") == 0, b0_val)
    for i in range(1, n - 1):
        lo, up = F.lit(float(bounds[i - 1])), F.lit(float(bounds[i]))
        chain = chain.when(F.col("_idx") == i, interp(lo, up))
    # overflow bucket: upper = max when usable, else return lower
    last_lo = F.lit(float(bounds[-1]))
    overflow = F.when(~has_max | (h_max <= last_lo), last_lo).otherwise(
        interp(last_lo, h_max)
    )
    chain = chain.when(F.col("_idx") == n - 1, overflow)

    out = (
        df.withColumn("value", chain)
        .withColumn(name_col, F.concat(F.col(name_col), F.lit(sfx)))
        .withColumn("metric_type", F.lit("Gauge"))
        .drop("_target", "_w", "_idx", "_prev")
    )
    drop = [c for c in ("h_count", "h_sum", "h_min", "h_max", "bucket_counts",
                        "explicit_bounds", "metric_is_monotonic",
                        "metric_aggregation_temporality") if c in out.columns]
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# convert_summary_* (func_convert_summary_{count,sum,quantile}_val_to_*.go)
# ---------------------------------------------------------------------------

def convert_summary_count_val_to_sum(
    df: DataFrame, temporality: str = "cumulative", monotonic: bool = True,
    name_col: str = "metric_name",
) -> DataFrame:
    """Summary datapoints -> `<name>_count` Sum metric with INT value =
    summary count (func_convert_summary_count_val_to_sum.go:38-76; unit is
    kept, unlike extract_count_metric)."""
    if temporality not in ("delta", "cumulative"):
        raise ValueError(f"unknown aggregation temporality: {temporality}")
    drop = [c for c in ("s_sum", "quantiles", "s_count") if c in df.columns]
    return (
        df.withColumn("value", F.col("s_count").cast("bigint"))
        .withColumn(name_col, F.concat(F.col(name_col), F.lit("_count")))
        .withColumn("metric_type", F.lit("Sum"))
        .withColumn("metric_is_monotonic", F.lit(bool(monotonic)))
        .withColumn("metric_aggregation_temporality", F.lit(temporality.capitalize()))
        .drop(*drop)
    )


def convert_summary_sum_val_to_sum(
    df: DataFrame, temporality: str = "cumulative", monotonic: bool = True,
    name_col: str = "metric_name",
) -> DataFrame:
    """Summary datapoints -> `<name>_sum` Sum metric with DOUBLE value =
    summary sum (func_convert_summary_sum_val_to_sum.go:38-76)."""
    if temporality not in ("delta", "cumulative"):
        raise ValueError(f"unknown aggregation temporality: {temporality}")
    drop = [c for c in ("s_count", "quantiles", "s_sum") if c in df.columns]
    return (
        df.withColumn("value", F.col("s_sum").cast("double"))
        .withColumn(name_col, F.concat(F.col(name_col), F.lit("_sum")))
        .withColumn("metric_type", F.lit("Sum"))
        .withColumn("metric_is_monotonic", F.lit(bool(monotonic)))
        .withColumn("metric_aggregation_temporality", F.lit(temporality.capitalize()))
        .drop(*drop)
    )


def convert_summary_quantile_val_to_gauge(
    df: DataFrame, suffix: str = ".quantiles", attr_key: str = "quantile",
    name_col: str = "metric_name",
) -> DataFrame:
    """One Gauge datapoint per summary quantile value, the quantile itself
    riding as a DOUBLE attribute (func_convert_summary_quantile_val_to_gauge
    .go:36-66: PutDouble(attributeKey, q.Quantile())). Here the attribute is
    a typed `quantile` column; the explode is the only row-expanding step."""
    drop = [c for c in ("s_count", "s_sum", "quantiles") if c in df.columns]
    return (
        df.withColumn("_q", F.explode(F.col("quantiles")))
        .withColumn(attr_key, F.col("_q.quantile"))
        .withColumn("value", F.col("_q.value"))
        .withColumn(name_col, F.concat(F.col(name_col), F.lit(suffix)))
        .withColumn("metric_type", F.lit("Gauge"))
        .drop("_q", *drop)
    )


# ---------------------------------------------------------------------------
# convert_exponential_histogram_to_histogram
# (func_convert_exponential_hist_to_explicit_hist.go:56-260)
# ---------------------------------------------------------------------------

def convert_exponential_histogram_to_histogram(
    df: DataFrame, distribution: str, explicit_bounds: list[float]
) -> DataFrame:
    """Exponential-histogram datapoints -> explicit-bound histogram
    datapoints. Per positive bucket at index = offset+pos:

      lower = exp(index * factor), upper = exp((index+1) * factor),
      factor = ln2 * 2^-scale                      (:109-111)

    exact-fit first (whole exp bucket inside one boundary pair :127-139),
    overflow-to-last when lower > bounds[-1] (:125), else the distribution
    algorithm: 'upper' (first bound >= upper :150-177), 'midpoint'
    ((upper+lower)/2, one bucket LEFT of the first fitting bound :179-201),
    'uniform' (count split div/mod across intersecting bounds :203-243).
    Zero-count lands in bucket 0 only when bounds[0]==0 (:115-117).

    The reference's 'random' algorithm is rejected: it draws rand/v2 per
    datapoint, which no deterministic engine (or its oracle) can reproduce.

    NOTE the reference's quirk, mirrored exactly: the OUTPUT bucket_counts
    has len == len(explicit_bounds) (the last boundary doubles as the
    overflow bucket), not the OTLP-usual len+1.

    `explicit_bounds` is config, so every bound comparison compiles to
    literal arithmetic: the whole conversion is ONE projection — for each
    output bucket j, an `aggregate` over the positive buckets summing that
    bucket's contribution. No shuffle, no Python."""
    if distribution not in ("upper", "midpoint", "uniform"):
        raise ValueError(
            f"invalid conversion function: {distribution}, must be one of "
            "[upper, midpoint, uniform] (random is nondeterministic and unsupported)"
        )
    if not explicit_bounds:
        raise ValueError(f"explicit bounds cannot be empty: {explicit_bounds}")
    nb = len(explicit_bounds)
    bounds = [float(b) for b in explicit_bounds]

    factor = F.log(F.lit(2.0)) * F.pow(F.lit(2.0), -F.col("scale").cast("double"))

    # Stage 1 — one pass over the positive buckets resolving, per exp bucket,
    # WHERE its count goes: `tgt` (single output bucket, or -1 for a uniform
    # span) plus the span fields. Each field is an O(nb) when-chain over
    # literal bounds referencing only the bucket's own lower/upper — the
    # whole expression stays linear in nb (the first cut nested these chains
    # inside per-output-bucket lambdas and went O(nb^3): driver OOM).
    def resolve(c, i):
        index = F.col("offset").cast("double") + i.cast("double")
        lower = F.exp(index * factor)
        upper = F.exp((index + F.lit(1.0)) * factor)
        cnt = c.cast("bigint")

        # overflow: lower beyond the last boundary (:125) -> last bucket
        overflow = lower > F.lit(bounds[-1])

        # exact fit (:127-139): first b with lower > bounds[b-1] && upper <=
        # bounds[b] -> output bucket b-1
        exact = F.lit(-1)
        for b in range(nb - 1, 0, -1):
            hit = (lower > F.lit(bounds[b - 1])) & (upper <= F.lit(bounds[b]))
            exact = F.when(hit, F.lit(b - 1)).otherwise(exact)

        if distribution == "upper":
            # first k with upper <= bounds[k], else overflow to last (:150-177)
            dist = F.lit(nb - 1)
            for k in range(nb - 1, -1, -1):
                dist = F.when(upper <= F.lit(bounds[k]), F.lit(k)).otherwise(dist)
            start = F.lit(-1)
            end = F.lit(-1)
        elif distribution == "midpoint":
            # first k with midpoint <= bounds[k] -> k-1 (k>0) / k (:179-201)
            mid = (upper + lower) / F.lit(2.0)
            dist = F.lit(nb - 1)
            for k in range(nb - 1, -1, -1):
                dist = F.when(mid <= F.lit(bounds[k]), F.lit(max(k - 1, 0))).otherwise(dist)
            start = F.lit(-1)
            end = F.lit(-1)
        else:  # uniform (:203-243): span [start, end] gets div/mod shares
            start = F.lit(nb - 1)
            for k in range(nb - 1, -1, -1):
                start = F.when(lower <= F.lit(bounds[k]), F.lit(k)).otherwise(start)
            end = F.lit(nb - 1)
            for k in range(nb - 1, -1, -1):
                end = F.when(upper <= F.lit(bounds[k]), F.lit(k)).otherwise(end)
            end = F.greatest(F.least(end, F.lit(nb - 1)), start)
            dist = F.lit(-1)

        tgt = (
            F.when(overflow, F.lit(nb - 1))
            .when(exact >= 0, exact)
            .otherwise(dist)
        )
        return F.struct(
            cnt.alias("cnt"), tgt.alias("tgt"), start.alias("start"), end.alias("end")
        )

    resolved = F.transform(F.col("bucket_counts"), lambda c, i: resolve(c, i))
    df = df.withColumn("_rb", resolved)

    # Stage 2 — per output bucket j, sum the tiny per-exp-bucket condition
    def amount(j: int):
        def fn(acc, x):
            if distribution == "uniform":
                span = (x["end"] - x["start"] + 1).cast("bigint")
                per = F.floor(x["cnt"] / span).cast("bigint")
                rem = x["cnt"] % span
                extra = F.when(F.lit(j).cast("bigint") - x["start"].cast("bigint") < rem, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
                degenerate = x["end"] <= x["start"]
                share = (
                    F.when(degenerate & (x["start"] == j), x["cnt"])
                    .when(
                        ~degenerate & (F.lit(j) >= x["start"]) & (F.lit(j) <= x["end"]),
                        per + extra,
                    )
                    .otherwise(F.lit(0).cast("bigint"))
                )
                return acc + F.when(x["tgt"] >= 0, F.when(x["tgt"] == j, x["cnt"]).otherwise(F.lit(0).cast("bigint"))).otherwise(share)
            return acc + F.when(x["tgt"] == j, x["cnt"]).otherwise(F.lit(0).cast("bigint"))

        return fn

    zero_to_b0 = bounds[0] == 0.0
    new_counts = []
    for j in range(nb):
        total = F.aggregate(F.col("_rb"), F.lit(0).cast("bigint"), amount(j))
        if j == 0 and zero_to_b0:
            total = total + F.col("zero_count").cast("bigint")
        new_counts.append(total)

    out = (
        df.withColumn("bucket_counts", F.array(*new_counts))
        .withColumn("explicit_bounds", F.array(*[F.lit(b) for b in bounds]))
        .drop("scale", "offset", "zero_count", "_rb")
    )
    if "metric_type" in df.columns:
        out = out.withColumn("metric_type", F.lit("Histogram"))
    return out


# ---------------------------------------------------------------------------
# aggregate_on_attributes / aggregate_on_attribute_value
# (func_aggregate_on_attributes_metrics.go:42-60,
#  func_agregate_on_attribute_value_metrics.go:45-71,
#  internal/coreinternal/aggregateutil/aggregate.go:36-273,388-442)
# ---------------------------------------------------------------------------

_AGG_FNS = ("sum", "mean", "min", "max", "median", "count")


def aggregate_on_attributes(
    df: DataFrame,
    aggregation_function: str,
    attributes: list[str] | None = None,
    value_col: str = "value",
    group_cols: list[str] | None = None,
    labels_col: str = "labels",
    ts_col: str | None = "ts",
) -> DataFrame:
    """Number-datapoint merge after attribute filtering. The reference
    first drops every attr not in `attributes` (FilterAttrs; None = keep
    all, [] = drop all), then groups datapoints by (attributes, timestamp)
    (dataPointHashKey, aggregate.go:388-402) and merges values with the
    chosen fn; the merged start timestamp is the min (aggregate.go:164-166).
    Median is EXACT (sorted middle / mean-of-two, aggregate.go:171-183);
    count is the group size. One hash aggregation — map-side partial agg,
    scales like any groupBy.

    `group_cols` are identity columns that always stay in the key (metric
    name/type/unit descriptors). `attributes` filters the labels map when
    `labels_col` exists, else it selects dim COLUMNS (the columnar analogue:
    dropped dim columns stop being part of the key)."""
    if aggregation_function not in _AGG_FNS:
        raise ValueError(
            f"invalid aggregation function: '{aggregation_function}', valid options: {_AGG_FNS}"
        )
    keys = list(group_cols or [])
    out = df
    if labels_col in df.columns:
        if attributes is not None:
            kept = F.map_filter(
                F.col(labels_col), lambda k, _v: k.isin([str(a) for a in attributes])
            ) if attributes else F.create_map().cast(dict(df.dtypes)[labels_col])
            out = out.withColumn(labels_col, kept)
        # maps can't be grouping keys directly — key on sorted entries
        out = out.withColumn(
            "_lk",
            F.array_join(
                F.array_sort(
                    F.transform(
                        F.map_entries(F.col(labels_col)),
                        lambda e: F.concat_ws("\x1f", e["key"], e["value"]),
                    )
                ),
                "\x1e",
            ),
        )
        keys.append("_lk")
        label_pick = F.first(labels_col)
    else:
        dims = [c for c in df.columns if c not in (value_col, ts_col, "start_ts")]
        keys += [c for c in (dims if attributes is None else [d for d in dims if d in attributes or d in keys]) if c not in keys]
        label_pick = None
    if ts_col and ts_col in df.columns:
        keys.append(ts_col)

    v = F.col(value_col)
    agg = {
        "sum": F.sum(v),
        "mean": F.avg(v),
        "min": F.min(v),
        "max": F.max(v),
        "median": F.expr(f"percentile({value_col}, 0.5)"),
        "count": F.count(v),
    }[aggregation_function]
    int_in = _is_int_col(df, value_col)
    if aggregation_function == "median" and int_in:
        # reference int median: sorted middle, (a+b)/2 with INTEGER division
        # for even groups (aggregate.go:207-215)
        agg = _int_median(value_col)
    aggs = [agg.alias(value_col)]
    if "start_ts" in df.columns:
        aggs.append(F.min("start_ts").alias("start_ts"))
    if label_pick is not None:
        aggs.append(label_pick.alias(labels_col))
    res = out.groupBy(*keys).agg(*aggs)
    if "_lk" in res.columns:
        res = res.drop("_lk")
    if int_in and aggregation_function in ("sum", "min", "max", "count"):
        res = res.withColumn(value_col, F.col(value_col).cast("bigint"))
    return res


def _int_median(value_col: str) -> Column:
    """Exact int64 median matching aggregateutil (aggregate.go:207-215):
    middle element for odd group sizes, (lo+hi) integer-div 2 for even."""
    arr = F.array_sort(F.collect_list(F.col(value_col).cast("bigint")))
    n = F.size(arr)
    mid = (n / 2).cast("int")  # 0-based upper-middle
    odd = n % 2 == 1
    lo = F.element_at(arr, mid)  # element_at is 1-based: arr[mid-1+1]
    hi = F.element_at(arr, mid + 1)
    # Go's (lo+hi)/2 on int64 truncates toward zero; Spark floor() rounds
    # toward -Inf and would differ when lo+hi is negative and odd.
    # double->bigint cast truncates toward zero like Go.
    even_val = ((lo + hi).cast("double") / F.lit(2.0)).cast("bigint")
    return F.when(odd, hi).otherwise(even_val)


def aggregate_on_attribute_value(
    df: DataFrame,
    aggregation_function: str,
    attribute: str,
    values: list[str],
    new_value: str,
    **kwargs,
) -> DataFrame:
    """Rewrites every datapoint whose `attribute` is in `values` to
    `new_value`, then merges like aggregate_on_attributes with ALL
    attributes kept (func_agregate_on_attribute_value_metrics.go:45-71)."""
    labels_col = kwargs.get("labels_col", "labels")
    vals = [str(v) for v in values]
    if labels_col in df.columns:
        rewritten = F.transform_values(
            F.col(labels_col),
            lambda k, v: F.when((k == attribute) & v.isin(vals), F.lit(new_value)).otherwise(v),
        )
        df = df.withColumn(labels_col, rewritten)
    elif attribute in df.columns:
        df = df.withColumn(
            attribute,
            F.when(F.col(attribute).isin(vals), F.lit(new_value)).otherwise(F.col(attribute)),
        )
    return aggregate_on_attributes(df, aggregation_function, attributes=None, **kwargs)
