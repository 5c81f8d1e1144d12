"""Prometheus naming translator — ``pkg/translator/prometheus``
(normalize_name.go:22-133, normalize_unit.go:16-129,
normalize_label.go:22-47) as pure codegen projections.

The OTel → Prometheus naming rules every Prometheus-facing exporter
applies (prometheusexporter, prometheusremotewriteexporter both call
BuildCompliantName / NormalizeLabel):

  - metric name splits into tokens on every non-alphanumeric rune;
  - the OTLP/UCUM unit maps to its Prometheus base-unit word (By→bytes,
    ms→milliseconds, %→percent, "1"→nothing) and is appended unless the
    token is already present; a "/per" unit appends "per_<word>";
    {annotated} units never append;
  - monotonic sums end in "_total" (existing "total" tokens dedup);
  - unit "1" gauges end in "_ratio";
  - an optional namespace prefixes; a leading digit gets "_";
  - labels sanitize every non-alphanumeric rune to "_", and a leading
    digit/single-underscore prefixes "key"/"key_".

Unicode classes mirror Go's unicode.IsLetter/IsDigit via \\p{L}/\\p{Nd}
(both Spark's Java regex and DuckDB's RE2 support them), so "°F" cleans
to "F" exactly like the reference's CleanUpString."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# unitMap / perUnitMap, normalize_unit.go:16-62 (reproduced semantics)
UNIT_MAP = {
    "d": "days", "h": "hours", "min": "minutes", "s": "seconds",
    "ms": "milliseconds", "us": "microseconds", "ns": "nanoseconds",
    "By": "bytes", "KiBy": "kibibytes", "MiBy": "mebibytes",
    "GiBy": "gibibytes", "TiBy": "tibibytes", "KBy": "kilobytes",
    "MBy": "megabytes", "GBy": "gigabytes", "TBy": "terabytes",
    "m": "meters", "V": "volts", "A": "amperes", "J": "joules",
    "W": "watts", "g": "grams", "Cel": "celsius", "Hz": "hertz",
    "1": "", "%": "percent",
}
PER_UNIT_MAP = {
    "s": "second", "m": "minute", "h": "hour", "d": "day",
    "w": "week", "mo": "month", "y": "year",
}

_NONALNUM = r"[^\p{L}\p{Nd}]+"


def _clean(col: Column) -> Column:
    """CleanUpString: join the letter/digit runs with underscores."""
    return F.concat_ws("_", F.filter(F.split(col, _NONALNUM), lambda t: t != ""))


def _map_get(col: Column, mapping: dict[str, str]) -> Column:
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return F.coalesce(F.element_at(m, col), col)


def _trimspace(col: Column) -> Column:
    # Go strings.TrimSpace strips all whitespace; Spark's trim() strips
    # only ' ' — a '\t'-padded unit would otherwise dodge the unit map
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def _main_unit(unit: Column) -> Column:
    """buildCompliantMainUnit: the part before the first '/', trimmed,
    mapped, cleaned; '' when empty/annotated ({...})."""
    raw = _trimspace(F.substring_index(unit, "/", 1))
    cleaned = _clean(_map_get(raw, UNIT_MAP))
    return F.when((raw != "") & ~raw.rlike(r"[{}]"), cleaned).otherwise(F.lit(""))


def _per_unit(unit: Column) -> Column:
    """buildCompliantPerUnit: the part after the first '/' (if any)."""
    raw = F.when(
        F.instr(unit, "/") > 0, _trimspace(F.substr(unit, F.instr(unit, "/") + F.lit(1)))
    ).otherwise(F.lit(""))
    cleaned = _clean(_map_get(raw, PER_UNIT_MAP))
    return F.when((raw != "") & ~raw.rlike(r"[{}]"), cleaned).otherwise(F.lit(""))


def prometheus_names(
    df: DataFrame,
    name_col: str = "metric_name",
    unit_col: str = "unit",
    type_col: str = "metric_type",
    monotonic_col: str = "is_monotonic",
    namespace: str = "",
    add_suffixes: bool = True,
    out_col: str = "prom_name",
) -> DataFrame:
    """BuildCompliantName over a metric-description table.

    `type_col` holds the pdata type name lowercased ('gauge', 'sum',
    'histogram', ...); `monotonic_col` a boolean (only consulted for
    sums). add_suffixes=False is the trim-forbidden-runes-only path
    (normalize_name.go:29-44). Scale: a single scan-speed projection —
    token arrays are a handful of words, every step is array algebra in
    whole-stage codegen."""
    name, unit = F.col(name_col), F.col(unit_col)
    if not add_suffixes:
        cleaned = F.concat_ws(
            "_", F.filter(F.split(name, r"[^\p{L}\p{Nd}_:]+"), lambda t: t != "")
        )
        if namespace:
            out = F.concat(F.lit(namespace + "_"), cleaned)
        else:
            out = F.when(
                (cleaned != "") & cleaned.rlike(r"^\p{Nd}"), F.concat(F.lit("_"), cleaned)
            ).otherwise(cleaned)
        return df.withColumn(out_col, out)

    # stage the token array and unit words once (multiply-referenced)
    staged = df.select(
        "*",
        F.filter(F.split(name, _NONALNUM), lambda t: t != "").alias("_ptoks"),
        _main_unit(unit).alias("_pu"),
        _per_unit(unit).alias("_ppu"),
    )
    toks, pu, ppu = F.col("_ptoks"), F.col("_pu"), F.col("_ppu")
    t1 = F.when(
        (pu != "") & ~F.array_contains(toks, pu), F.concat(toks, F.array(pu))
    ).otherwise(toks)
    staged = staged.select("*", t1.alias("_pt1"))  # per-unit check sees the updated list
    t1c = F.col("_pt1")
    t2 = F.when(
        (ppu != "") & ~F.array_contains(t1c, ppu),
        F.concat(t1c, F.array(F.lit("per"), ppu)),
    ).otherwise(t1c)
    is_counter = (F.col(type_col) == "sum") & F.col(monotonic_col)
    t3 = F.when(
        is_counter, F.concat(F.array_remove(t2, "total"), F.array(F.lit("total")))
    ).otherwise(t2)
    is_ratio = (unit == "1") & (F.col(type_col) == "gauge")
    t4 = F.when(
        is_ratio, F.concat(F.array_remove(t3, "ratio"), F.array(F.lit("ratio")))
    ).otherwise(t3)
    if namespace:
        t4 = F.concat(F.array(F.lit(namespace)), t4)
    nm = F.concat_ws("_", t4)
    nm = F.when((nm != "") & nm.rlike(r"^\p{Nd}"), F.concat(F.lit("_"), nm)).otherwise(nm)
    return staged.select(*df.columns, nm.alias(out_col))


def prom_normalize_label(label: Column, drop_sanitization: bool = False) -> Column:
    """NormalizeLabel (normalize_label.go:22-47): every non-alphanumeric
    rune → '_'; leading digit → 'key_' prefix; leading single underscore
    → 'key' prefix unless the permissive feature gate is on; '__' stays."""
    s = F.regexp_replace(label, r"[^\p{L}\p{Nd}]", "_")
    out = F.when(s.rlike(r"^\p{Nd}"), F.concat(F.lit("key_"), s))
    if not drop_sanitization:
        out = out.when(s.rlike("^_") & ~s.rlike("^__"), F.concat(F.lit("key"), s))
    return F.when(label == "", label).otherwise(out.otherwise(s))


def histogram_to_prw_series(
    df: DataFrame,
    name_col: str = "hh_name",
    count_col: str = "hh_count",
    sum_col: str = "hh_sum",
    counts_csv_col: str = "hh_bucket_counts_csv",
    bounds_csv_col: str = "hh_bounds_csv",
) -> DataFrame:
    """OTLP explicit-bounds histogram datapoints → Prometheus remote-write
    style series rows (``pkg/translator/prometheusremotewrite/helper.go``
    addHistogramDataPoints:254-334):

      - ``<name>_sum`` when the datapoint carries a sum (HasSum — NULL
        sum column means omitted);
      - ``<name>_count`` with the total count;
      - ``<name>_bucket`` per explicit bound with the CUMULATIVE count of
        buckets 0..i and an ``le`` label (bound iteration stops at
        min(len(bounds), len(counts)) exactly like the reference loop);
      - the ``le="+Inf"`` bucket carrying the total count.

    Adds (series, le, value) one row per emitted sample; every other
    input column passes through (timestamps, attrs CSV). Fidelity notes:
    ``le`` carries the bound string as decoded into the bounds CSV
    (``1.0``) where Go renders FormatFloat('f',-1) (``1``); exemplars and
    the NoRecordedValue→StaleNaN flag have no column in the decode model.

    Scale: one staged projection + one explode — the bucket cumsum is an
    O(B²) fold over a handful of buckets per row, arrays staged as bound
    attributes first so projection collapse can't inline the CSV split
    once per element."""
    clash = {"series", "le", "value", "_hcounts", "_hbounds"} & set(df.columns)
    if clash:
        raise ValueError(f"histogram_to_prw_series output/staging columns collide with input: {sorted(clash)}")
    empty_l = F.array().cast("array<long>")
    empty_s = F.array().cast("array<string>")
    ccsv, bcsv = F.col(counts_csv_col), F.col(bounds_csv_col)
    staged = df.select(
        "*",
        F.when(
            ccsv.isNotNull() & (ccsv != ""),
            F.transform(F.split(ccsv, ","), lambda s: s.cast("long")),
        )
        .otherwise(empty_l)
        .alias("_hcounts"),
        F.when(bcsv.isNotNull() & (bcsv != ""), F.split(bcsv, ",")).otherwise(empty_s).alias(
            "_hbounds"
        ),
    )
    counts, bounds = F.col("_hcounts"), F.col("_hbounds")
    cnt, total = F.col(count_col), F.col(count_col).cast("double")
    nb = F.least(F.size(bounds), F.size(counts))
    entry = "struct<suffix:string,le:string,value:double>"
    buckets = F.transform(
        F.when(nb >= 1, F.sequence(F.lit(1), nb)).otherwise(F.array().cast("array<int>")),
        lambda i: F.struct(
            F.lit("_bucket").alias("suffix"),
            F.element_at(bounds, i).alias("le"),
            F.aggregate(F.slice(counts, F.lit(1), i), F.lit(0).cast("long"), lambda a, x: a + x)
            .cast("double")
            .alias("value"),
        ),
    )
    entries = F.concat(
        F.when(
            F.col(sum_col).isNotNull(),
            F.array(
                F.struct(
                    F.lit("_sum").alias("suffix"),
                    F.lit(None).cast("string").alias("le"),
                    F.col(sum_col).cast("double").alias("value"),
                )
            ),
        ).otherwise(F.array().cast(f"array<{entry}>")),
        F.array(
            F.struct(
                F.lit("_count").alias("suffix"),
                F.lit(None).cast("string").alias("le"),
                total.alias("value"),
            )
        ),
        buckets,
        F.array(
            F.struct(
                F.lit("_bucket").alias("suffix"),
                F.lit("+Inf").alias("le"),
                total.alias("value"),
            )
        ),
    )
    out_cols = [c for c in df.columns]
    return (
        staged.select(*out_cols, F.explode(entries).alias("_e"))
        .select(
            *out_cols,
            F.concat(F.col(name_col), F.col("_e.suffix")).alias("series"),
            F.col("_e.le").alias("le"),
            F.col("_e.value").alias("value"),
        )
    )


def summary_to_prw_series(
    df: DataFrame,
    name_col: str = "metric_name",
    count_col: str = "s_count",
    sum_col: str = "s_sum",
    quantiles_csv_col: str = "quantiles_csv",
) -> DataFrame:
    """OTLP summary datapoints → Prometheus remote-write series rows
    (``prometheusremotewrite/helper.go`` addSummaryDataPoints): always a
    ``<name>_sum`` and ``<name>_count`` pair, plus one ``<name>`` series
    per quantile value carrying a ``quantile`` label. Quantile pairs ride
    a ``q:value`` CSV (the statsd-aggregate output shape); the quantile
    label string passes through verbatim (the reference renders
    FormatFloat('f',-1)). Adds (series, quantile, value)."""
    clash = {"series", "quantile", "value", "_sq"} & set(df.columns)
    if clash:
        raise ValueError(f"summary_to_prw_series output/staging columns collide with input: {sorted(clash)}")
    qcsv = F.col(quantiles_csv_col)
    staged = df.select(
        "*",
        F.when(
            qcsv.isNotNull() & (qcsv != ""),
            F.transform(
                F.split(qcsv, ","),
                lambda p: F.struct(
                    F.substring_index(p, ":", 1).alias("q"),
                    F.substring_index(p, ":", -1).cast("double").alias("v"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<q:string,v:double>>"))
        .alias("_sq"),
    )
    entry = "array<struct<suffix:string,quantile:string,value:double>>"
    nullq = F.lit(None).cast("string")
    entries = F.concat(
        F.array(
            F.struct(F.lit("_sum").alias("suffix"), nullq.alias("quantile"),
                     F.col(sum_col).cast("double").alias("value")),
            F.struct(F.lit("_count").alias("suffix"), nullq.alias("quantile"),
                     F.col(count_col).cast("double").alias("value")),
        ),
        F.transform(
            F.col("_sq"),
            lambda s: F.struct(
                F.lit("").alias("suffix"), s["q"].alias("quantile"), s["v"].alias("value")
            ),
        ).cast(entry),
    )
    out_cols = list(df.columns)
    return (
        staged.select(*out_cols, F.explode(entries).alias("_e"))
        .select(
            *out_cols,
            F.concat(F.col(name_col), F.col("_e.suffix")).alias("series"),
            F.col("_e.quantile").alias("quantile"),
            F.col("_e.value").alias("value"),
        )
    )
