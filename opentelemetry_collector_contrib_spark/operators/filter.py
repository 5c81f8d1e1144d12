"""Filters + sampling: filterprocessor match properties, head samplers,
and the remote tap.

`filter_match` is filterprocessor's include/exclude MatchProperties gate
(internal/filter/filterconfig); probabilisticsampler keeps records whose
key-hash falls under a threshold
(processor/probabilisticsamplerprocessor/logsprocessor.go:22-70). The
spec's OTTL `filter:` conditions compile in plans/config.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def probabilistic_sampler(df: DataFrame, key_col: str, percent: float) -> DataFrame:
    """Consistent hash-based sampling: same key always gets the same verdict
    (logsprocessor.go threshold-from-traceid semantics). xxhash64 is JVM-side
    and uniform; stays in codegen. Production path — verdicts are
    Spark-specific (engine hash), so cross-engine checks use
    probabilistic_sampler_portable."""
    threshold = int((percent / 100.0) * (1 << 62))
    return df.filter(F.abs(F.xxhash64(F.col(key_col))) % (1 << 62) < threshold)


def probabilistic_sampler_portable(df: DataFrame, key_col: str, percent: float) -> DataFrame:
    """Same consistent-sampling contract over the portable 60-bit md5 hash
    (textstats.h60), so any engine — including the DuckDB oracle — computes
    identical verdicts. Marginally slower than xxhash64 (md5 + string conv)
    but still codegen'd JVM-side; use it when reruns must be reproducible
    across engines, the sampled-dataset-equality analogue of the reference's
    hash_seed contract (probabilisticsamplerprocessor/config.go)."""
    from .textstats import h60

    threshold = int((percent / 100.0) * (1 << 60))
    return df.filter(h60(F.col(key_col)) < threshold)


def deterministic_sampler_mod(df: DataFrame, key_col: str, modulus: int, keep_under: int) -> DataFrame:
    """Engine-portable deterministic sampler: numeric suffix of the key mod
    `modulus`. Used where the oracle must reproduce the verdict exactly
    (cross-engine hash functions differ; digit arithmetic does not)."""
    suffix = F.regexp_extract(F.col(key_col), r"(\d+)$", 1).cast("long")
    return df.filter(F.pmod(suffix, F.lit(modulus)) < keep_under)


def adaptive_head_sampler(
    df: DataFrame,
    key_cols: list[str],
    target_per_key: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Volume-adaptive per-key sampling (the dynamicsampling-processor
    shape): every key keeps AT MOST target_per_key rows, so high-volume keys
    are sampled at rate target/volume while rare keys pass untouched — the
    standard per-template rate cap for 10^12-row log streams. Selection is
    deterministic and engine-portable: rows rank by the 60-bit md5 hash of
    the tiebreak columns (an unbiased, reproducible shuffle within the key),
    one window on the key partitioning."""
    from pyspark.sql import Window

    from .textstats import h60

    ties = tiebreak_cols or key_cols
    rank_key = h60(F.concat_ws("\x01", *[F.col(c).cast("string") for c in ties]))
    w = Window.partitionBy(*key_cols).orderBy(rank_key.asc(), *[F.col(c) for c in ties])
    return (
        df.withColumn("_ahs_rn", F.row_number().over(w))
        .filter(F.col("_ahs_rn") <= target_per_key)
        .drop("_ahs_rn")
    )


def match_properties(props: dict) -> Column:
    """filterconfig.MatchProperties → one boolean Column
    (internal/filter/filtermatcher/filtermatcher.go:21-77,
    attributematcher.go). match_type 'strict' compares values exactly;
    'regexp' treats each value as an uncompiled pattern (filterset
    semantics). All listed properties must match (AND across attributes —
    PropertiesMatcher.Match); a key with no value only requires presence.
    Supported property groups: attributes (column = value) and record
    (severity_texts / bodies as column-name → allowed-values lists)."""
    mt = props.get("match_type", "strict")
    if mt not in ("strict", "regexp"):
        raise ValueError(f"match_type must be strict|regexp, got {mt!r}")
    conds: list[Column] = []
    for a in props.get("attributes", []):
        c = F.col(a["key"])
        v = a.get("value")
        if v is None:
            conds.append(c.isNotNull())
        elif mt == "strict":
            conds.append(c == F.lit(v))
        else:
            conds.append(c.cast("string").rlike(str(v)))
    for key, values in (props.get("record") or {}).items():
        c = F.col(key).cast("string")
        alts = [(c == F.lit(v)) if mt == "strict" else c.rlike(str(v)) for v in values]
        one = alts[0]
        for x in alts[1:]:
            one = one | x
        conds.append(one)
    if not conds:
        raise ValueError("match properties need at least one attribute or record matcher")
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def filter_match(df: DataFrame, include: dict | None = None, exclude: dict | None = None) -> DataFrame:
    """The processor-level include/exclude pair (filterconfig.MatchConfig:
    config.go:23-41): a row is processed iff it matches `include` (when
    present) AND does not match `exclude` (when present). NULL comparisons
    count as non-matches on both gates."""
    if include is None and exclude is None:
        raise ValueError("filter_match needs include and/or exclude")
    keep = F.lit(True)
    if include is not None:
        keep = keep & F.coalesce(match_properties(include), F.lit(False))
    if exclude is not None:
        keep = keep & ~F.coalesce(match_properties(exclude), F.lit(False))
    return df.filter(keep)


def remote_tap(
    df: DataFrame,
    limit_per_s: int,
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """remotetapprocessor as a batch tap: the processor passes ALL data
    through untouched and mirrors at most `limit` messages per second to the
    attached websocket (processor/remotetapprocessor/config.go:18-20 —
    `rate.Limit`, default 1/s; processor.go:46 `rate.NewLimiter(limit,
    burst=limit)`). The wall-clock limiter is inherently non-deterministic;
    the batch analogue keys the budget on the RECORD's second so replays
    are reproducible: the first `limit` rows per epoch-second (stable
    order) are tapped.

    Returns the tapped subset — callers keep using the input frame as the
    passthrough. One window over (second, order) — hash-partitioned by
    second, no skew beyond per-second volume, which the cap itself bounds.
    """
    from pyspark.sql import Window

    if limit_per_s < 1:
        raise ValueError("limit_per_s must be >= 1")
    sec = (F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1_000_000)).cast(
        "long"
    )
    order = [F.col(c) for c in order_cols] or [F.col(ts_col)]
    w = Window.partitionBy(sec).orderBy(*order)
    return (
        df.withColumn("_tap_rn", F.row_number().over(w))
        .where(F.col("_tap_rn") <= limit_per_s)
        .drop("_tap_rn")
    )

