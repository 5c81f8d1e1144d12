"""OTEP-235 consistent probability sampling: pkg/sampling + the modern
probabilisticsampler modes.

The reference's ``pkg/sampling`` library defines sampling probability as a
56-bit **rejection threshold** compared against 56 bits of **randomness**
(sampled iff ``T <= R``), with wire encodings:

- T-value (``th``): up to 14 hex digits, trailing zeros trimmed
  (`pkg/sampling/threshold.go:63-118`); probability = (2^56 - T)/2^56.
- R-value (``rv``): exactly 14 hex digits (`pkg/sampling/randomness.go:59-71`);
  default randomness = least-significant 56 bits of the TraceID
  (`randomness.go:47-56`, W3C trace-context-2 randomness flag).
- Carried in the ``ot`` member of the W3C ``tracestate`` header as
  ``;``-separated ``key:value`` pairs (`pkg/sampling/oteltracestate.go:40-107`,
  `w3ctracestate.go:30-103`) or — for logs — in the ``sampling.threshold`` /
  ``sampling.randomness`` attributes
  (`probabilisticsamplerprocessor/logsprocessor.go:54-77`).

Probability -> threshold conversion with reduced hex precision mirrors
`probability.go:33-79` (Frexp-based precision widening near the extremes,
round-half-up at the cut digit). The three sampler modes mirror
`sampler_mode.go:230-460`:

- ``hash_seed``: FNV-1a 32 over (LE seed bytes ++ key bytes), 14-bit
  accept threshold ``uint32(pct*0x4000/100)`` (truncated), R-value
  synthesized from the hash by the exact bit mixing of
  `sampler_mode.go:312-348`.
- ``equalizing``: fixed threshold, but an incoming *smaller* threshold
  (= larger probability) is raised to it; an incoming larger threshold
  is kept (`sampler_mode.go:267-272`).
- ``proportional``: outgoing probability = incoming probability x ratio,
  re-encoded at the configured precision (`sampler_mode.go:285-303`);
  underflow below 2^-56 becomes never-sample.

Consistency check (`sampler_mode.go:350-372`): an arriving T-value that
would NOT have sampled the record's own randomness is a lie — it is
cleared, and the record is dropped under ``fail_closed`` or passed
through with the threshold cleared otherwise.

Everything here is pure-codegen column math (hex <-> 56-bit longs via
``conv``/``hex``; the FNV loop is a Spark ``aggregate`` HOF over the key's
characters, not a Python UDF), so every path has a DuckDB oracle and the
plan stays inside whole-stage codegen at any scale.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

MAX_ADJUSTED_COUNT = 1 << 56  # threshold.go:14 (2^56)
NUM_HEX_DIGITS = 14
MIN_SAMPLING_PROBABILITY = 1.0 / MAX_ADJUSTED_COUNT
NEVER_SAMPLE_THRESHOLD = MAX_ADJUSTED_COUNT  # unsigned for "drop everything"
ALWAYS_SAMPLE_THRESHOLD = 0

NUM_HASH_BUCKETS = 0x4000  # sampler_mode.go:36 (14-bit legacy hash space)
PERCENTAGE_SCALE_FACTOR = NUM_HASH_BUCKETS / 100.0
FNV_OFFSET_BASIS32 = 2166136261
FNV_PRIME32 = 16777619
MASK32 = 0xFFFFFFFF

_TV_RE = r"^[0-9a-f]{1,14}$"
_RV_RE = r"^[0-9a-f]{14}$"


# ---------------------------------------------------------------------------
# Driver-side exact mirrors (config-time constants, test oracles)
# ---------------------------------------------------------------------------

# Python reference of tests/test_sampling.py::test_column_kernels_match_python.
def tvalue_to_threshold(s: str) -> int:
    """`threshold.go:63-86`: hex parse + re-extend trimmed trailing zeros."""
    if not s or len(s) > NUM_HEX_DIGITS:
        raise ValueError(f"t-value must be 1-14 hex digits: {s!r}")
    unsigned = int(s, 16)
    return unsigned << (4 * (NUM_HEX_DIGITS - len(s)))


def threshold_to_tvalue(unsigned: int) -> str:
    """`threshold.go:98-118`: 14-digit hex, trailing zeros trimmed; '0' for
    always-sample, '' for never-sample."""
    if unsigned == ALWAYS_SAMPLE_THRESHOLD:
        return "0"
    if unsigned == NEVER_SAMPLE_THRESHOLD:
        return ""
    return format(unsigned, "014x").rstrip("0")


def threshold_probability(unsigned: int) -> float:
    """`probability.go:81+`: sampled fraction for a rejection threshold."""
    return float(MAX_ADJUSTED_COUNT - unsigned) / MAX_ADJUSTED_COUNT


def adjusted_count(unsigned: int) -> float:
    """`threshold.go:141-145`: 1/probability, 0 for never-sample."""
    if unsigned == NEVER_SAMPLE_THRESHOLD:
        return 0.0
    return 1.0 / threshold_probability(unsigned)


def probability_to_threshold(fraction: float, precision: int = NUM_HEX_DIGITS) -> int:
    """`probability.go:33-79` exact: returns the unsigned rejection threshold.

    Precision counts significant hex digits past the leading 0/f run; Frexp
    of both the fraction and its complement widens it near the extremes so
    relative error is preserved. Raises ValueError out of range, mirroring
    ErrProbabilityRange.
    """
    if precision == 0:
        precision = NUM_HEX_DIGITS
    if not (MIN_SAMPLING_PROBABILITY <= fraction <= 1):
        raise ValueError("sampling probability out of range")
    if fraction == 1:
        return ALWAYS_SAMPLE_THRESHOLD
    _, exp_f = math.frexp(fraction)
    _, exp_r = math.frexp(1 - fraction)
    # Go integer division truncates toward zero; exps are <= 0 so the
    # quotients are >= 0 and truncation == floor.
    precision = min(NUM_HEX_DIGITS, max(precision + exp_f // -4, precision + exp_r // -4))
    scaled = int(round(fraction * float(MAX_ADJUSTED_COUNT)))
    threshold = MAX_ADJUSTED_COUNT - scaled
    shift = 4 * (NUM_HEX_DIGITS - precision)
    if shift:
        half = 1 << (shift - 1)
        threshold += half
        threshold >>= shift
        threshold <<= shift
    return threshold


# Python reference of tests/test_sampling.py::test_rvalue_roundtrip.
def randomness_to_rvalue(unsigned: int) -> str:
    """`randomness.go:74-103`: full-width 14-hex encoding ('' out of range)."""
    if not (0 <= unsigned < MAX_ADJUSTED_COUNT):
        return ""
    return format(unsigned, "014x")


def fnv1a32(data: bytes, seed: int = 0) -> int:
    """`fnvhasher.go:12-18`: FNV-1a 32 over (4 LE seed bytes ++ data)."""
    h = FNV_OFFSET_BASIS32
    for b in seed.to_bytes(4, "little") + data:
        h = ((h ^ b) * FNV_PRIME32) & MASK32
    return h


# Python reference of tests/test_sampling.py::test_fnv_randomness_col_matches_python.
def randomness_from_bytes(data: bytes, seed: int = 0) -> int:
    """`sampler_mode.go:312-348`: legacy 14-bit hash stretched to an OTEP-235
    56-bit randomness: [R' = 0x3FFF - hashed | 28 mixed bits | hashed]."""
    hashed32 = fnv1a32(data, seed)
    hashed = hashed32 & (NUM_HASH_BUCKETS - 1)
    rprime14 = NUM_HASH_BUCKETS - 1 - hashed
    unused18 = hashed32 >> 18
    mixed28 = (unused18 ^ (unused18 << 10)) & ((1 << 28) - 1)
    return (rprime14 << 42) | (mixed28 << 14) | hashed


def hash_seed_threshold(percent: float) -> int:
    """`sampler_mode.go:430-446`: legacy 14-bit accept count (32-bit multiply,
    truncated toward zero), converted to a 56-bit rejection threshold."""
    pct = min(percent, 100.0)
    scaled = int(pct * PERCENTAGE_SCALE_FACTOR)  # Go uint32() truncation
    if scaled == 0:
        return NEVER_SAMPLE_THRESHOLD
    return (NUM_HASH_BUCKETS - scaled) << 42


# ---------------------------------------------------------------------------
# Column kernels (all codegen; DuckDB-oracle-able)
# ---------------------------------------------------------------------------

def hex_to_long(col: Column) -> Column:
    """Up-to-15 hex digits -> long (fits: 60 bits < 63)."""
    return F.conv(col, 16, 10).cast("long")


def tvalue_threshold_col(tv: Column) -> Column:
    """T-value string -> unsigned threshold long; NULL when malformed.
    Trailing-zero re-extension == right-pad to 14 with '0'
    (`threshold.go:76-85`)."""
    return F.when(tv.rlike(_TV_RE), hex_to_long(F.rpad(tv, NUM_HEX_DIGITS, "0")))


def rvalue_randomness_col(rv: Column) -> Column:
    """R-value string -> randomness long; NULL when not exactly 14 hex."""
    return F.when(rv.rlike(_RV_RE), hex_to_long(rv))


def trace_id_randomness_col(trace_id: Column) -> Column:
    """Least-significant 56 bits of a 32-hex TraceID (`randomness.go:47-56`):
    hex digits 19..32. NULL for malformed or all-zero (empty) ids."""
    valid = trace_id.rlike(r"^[0-9a-f]{32}$") & (trace_id != F.lit("0" * 32))
    return F.when(valid, hex_to_long(F.substring(trace_id, 19, 14)))


def threshold_tvalue_col(th: Column) -> Column:
    """Unsigned threshold long -> T-value string (`threshold.go:98-118`)."""
    full = F.lpad(F.lower(F.hex(th)), NUM_HEX_DIGITS, "0")
    return (
        F.when(th == ALWAYS_SAMPLE_THRESHOLD, F.lit("0"))
        .when(th >= NEVER_SAMPLE_THRESHOLD, F.lit(""))
        .otherwise(F.regexp_replace(full, "0+$", ""))
    )


def randomness_rvalue_col(rnd: Column) -> Column:
    """Randomness long -> 14-hex R-value string."""
    return F.lpad(F.lower(F.hex(rnd)), NUM_HEX_DIGITS, "0")


def should_sample_col(th: Column, rnd: Column) -> Column:
    """`threshold.go:120-122`: sampled iff T <= R."""
    return th <= rnd


def adjusted_count_col(th: Column) -> Column:
    """`threshold.go:141-145` as a column (0.0 for never-sample)."""
    denom = (F.lit(MAX_ADJUSTED_COUNT) - th).cast("double")
    return F.when(th >= NEVER_SAMPLE_THRESHOLD, F.lit(0.0)).otherwise(
        F.lit(float(MAX_ADJUSTED_COUNT)) / denom
    )


def probability_to_threshold_col(fraction: Column, precision: int = 4) -> Column:
    """Per-row `ProbabilityToThresholdWithPrecision` (`probability.go:33-79`).

    The Frexp exponent is floor(log2(x))+1 — exact for the fixture-scale
    values both engines see (both use IEEE-754 doubles and the same integer
    rounding); out-of-range products map to never-sample, mirroring the
    proportional sampler's underflow rule (`sampler_mode.go:296-302`).
    """
    if precision == 0:
        precision = NUM_HEX_DIGITS
    exp_f = F.floor(F.log2(fraction)) + 1
    exp_r = F.floor(F.log2(F.lit(1.0) - fraction)) + 1
    prec = F.least(
        F.lit(NUM_HEX_DIGITS),
        F.greatest(
            F.lit(precision) + F.floor(exp_f / F.lit(-4)),
            F.lit(precision) + F.floor(exp_r / F.lit(-4)),
        ),
    ).cast("int")
    scaled = F.round(fraction * F.lit(float(MAX_ADJUSTED_COUNT))).cast("long")
    threshold = F.lit(MAX_ADJUSTED_COUNT) - scaled
    # 2^shift as exact long arithmetic (shift <= 52 so pow() is exact); the
    # round-to-precision is then plain integer add/mod — no float rounding.
    shift = F.lit(4) * (F.lit(NUM_HEX_DIGITS) - prec)
    p2 = F.pow(F.lit(2.0), shift.cast("double")).cast("long")
    half = F.when(shift > 0, p2 / F.lit(2)).otherwise(F.lit(0)).cast("long")
    bumped = threshold + half
    rounded = bumped - F.pmod(bumped, p2)
    return (
        F.when(fraction >= 1.0, F.lit(ALWAYS_SAMPLE_THRESHOLD).cast("long"))
        .when(
            fraction < F.lit(MIN_SAMPLING_PROBABILITY),
            F.lit(NEVER_SAMPLE_THRESHOLD).cast("long"),
        )
        .otherwise(rounded)
    )


def fnv1a32_col(key: Column, seed: int = 0) -> Column:
    """FNV-1a 32 over an ASCII key, prefixed by 4 LE seed bytes — a Spark
    ``aggregate`` HOF over the string's characters (`fnvhasher.go:12-18`).
    Stays JVM-side; mod-2^32 after every multiply keeps the accumulator
    exact in long arithmetic (32+25 bits < 63)."""
    acc0 = FNV_OFFSET_BASIS32
    for b in seed.to_bytes(4, "little"):
        acc0 = ((acc0 ^ b) * FNV_PRIME32) & MASK32
    # sequence(1, 0) would be the DESCENDING [1, 0], not [] — guard empties.
    idxs = F.when(F.length(key) > 0, F.sequence(F.lit(1), F.length(key))).otherwise(
        F.array().cast("array<int>")
    )
    return F.aggregate(
        idxs,
        F.lit(acc0).cast("long"),
        lambda acc, i: F.pmod(
            (acc.bitwiseXOR(F.ascii(F.substring(key, i.cast("int"), 1)).cast("long")))
            * F.lit(FNV_PRIME32),
            F.lit(MASK32 + 1),
        ),
    )


def randomness_from_key_col(key: Column, seed: int = 0) -> Column:
    """`sampler_mode.go:312-348` as columns: 14-bit legacy hash stretched to
    56-bit randomness with the exact bit mixing."""
    h32 = fnv1a32_col(key, seed)
    hashed = F.pmod(h32, F.lit(NUM_HASH_BUCKETS))
    rprime14 = F.lit(NUM_HASH_BUCKETS - 1) - hashed
    unused18 = F.shiftright(h32, 32 - 14)
    mixed28 = F.pmod(
        unused18.bitwiseXOR(unused18 * F.lit(1 << 10)), F.lit(1 << 28)
    )
    return rprime14 * F.lit(1 << 42) + mixed28 * F.lit(1 << 14) + hashed


# ---------------------------------------------------------------------------
# W3C tracestate / OTel section parsing (w3ctracestate.go, oteltracestate.go)
# ---------------------------------------------------------------------------

def w3c_ot_section_col(tracestate: Column) -> Column:
    """Extract the ``ot`` member's value from a W3C tracestate header
    (comma-separated ``key=value`` list, OWS-tolerant,
    `w3ctracestate.go:30-103`). NULL when absent."""
    member = F.regexp_extract(tracestate, r"(?:^|,)[ \t]*ot=([^,]*)", 1)
    return F.nullif(F.rtrim(member), F.lit(""))


def ot_field_col(ot: Column, key: str) -> Column:
    """One ``key:value`` field of the OTel tracestate section
    (`;`-separated, `oteltracestate.go:40-45`). NULL when absent."""
    return F.nullif(F.regexp_extract(ot, rf"(?:^|;){key}:([^;]*)", 1), F.lit(""))


def parse_sampling_state(
    df: DataFrame,
    tracestate_col: str,
    trace_id_col: str | None = None,
) -> DataFrame:
    """Parse rv/th out of the tracestate's ``ot`` section and resolve the
    effective randomness (explicit rv wins over the TraceID,
    `sampler_mode.go:281-295` consistentTracestateCommon)."""
    # staged columns (not one inlined tree) — see consistent_sample's note
    # on CollapseProject and janino's method-size limit
    df = df.withColumn("ot_section", w3c_ot_section_col(F.col(tracestate_col)))
    df = df.withColumns(
        {
            "_rv_f": ot_field_col(F.col("ot_section"), "rv"),
            "_tv_f": ot_field_col(F.col("ot_section"), "th"),
        }
    )
    rnd_explicit = rvalue_randomness_col(F.col("_rv_f"))
    rnd = rnd_explicit
    if trace_id_col is not None:
        rnd = F.coalesce(rnd_explicit, trace_id_randomness_col(F.col(trace_id_col)))
    th = tvalue_threshold_col(F.col("_tv_f"))
    return (
        df.withColumn("rvalue", F.when(rnd_explicit.isNotNull(), F.col("_rv_f")))
        .withColumn("tvalue", F.when(th.isNotNull(), F.col("_tv_f")))
        .withColumn("randomness", rnd)
        .withColumn("threshold_in", th)
        .drop("_rv_f", "_tv_f")
    )


# ---------------------------------------------------------------------------
# The probabilisticsampler processor (logs flavor), three modes
# ---------------------------------------------------------------------------

def consistent_sample(
    df: DataFrame,
    percent: float,
    mode: str = "proportional",
    *,
    trace_id_col: str | None = "trace_id",
    tvalue_col: str | None = None,
    rvalue_col: str | None = None,
    hash_key_col: str | None = None,
    hash_seed: int = 0,
    priority_col: str | None = None,
    precision: int = 4,
    fail_closed: bool = True,
) -> DataFrame:
    """probabilisticsampler `logsprocessor.go` + `sampler_mode.go` as one
    declarative plan. Returns the sampled rows with:

    - ``sampling_threshold``: outgoing T-value string (the attribute the
      reference stamps via ``updateThreshold``, `logsprocessor.go:90-97`)
    - ``sampling_randomness``: effective 14-hex R-value
    - ``adjusted_count``: 1/probability representativity

    Modes: ``hash_seed`` (randomness from FNV over ``hash_key_col``, or the
    trace id string when unset), ``equalizing``, ``proportional``.
    ``priority_col`` mirrors SamplingPriority for logs: a non-zero numeric
    attribute requests prob = value/100 for that record
    (`logsprocessor.go:239-268`). ``fail_closed`` drops records with missing
    randomness or an inconsistent arriving T-value; fail-open keeps them
    (threshold cleared, `sampler_mode.go:350-372`).
    """
    pct = min(float(percent), 100.0)
    never = pct <= 0  # neverSampler (sampler_mode.go:253-257)
    ratio = max(pct / 100.0, MIN_SAMPLING_PROBABILITY)

    tv_raw_x = F.col(tvalue_col) if tvalue_col else F.lit(None).cast("string")
    rv_raw_x = F.col(rvalue_col) if rvalue_col else F.lit(None).cast("string")
    # Stage the hex parses as named columns: each is referenced many times
    # below, and keeping them as aliases (instead of inlining the conv/rlike
    # tree at every use) lets CollapseProject leave them materialized — the
    # fully-inlined expression tree blows janino's 64KB codegen method limit
    # and falls back to interpreted evaluation.
    df = df.withColumns(
        {
            "_tv_raw": tv_raw_x,
            "_rv_raw": rv_raw_x,
            "_th_in": tvalue_threshold_col(tv_raw_x),
            "_rnd_explicit": rvalue_randomness_col(rv_raw_x),
        }
    )
    tv_raw = F.col("_tv_raw")
    rv_raw = F.col("_rv_raw")
    th_in = F.col("_th_in")
    rnd_explicit = F.col("_rnd_explicit")
    # A present-but-malformed sampling attribute is a carrier parse error
    # (newLogRecordCarrier accumulates it, logsprocessor.go:54-77) — the
    # reference then skips all attribute updates and follows fail_closed.
    present_tv = tv_raw.isNotNull() & (tv_raw != F.lit(""))
    present_rv = rv_raw.isNotNull() & (rv_raw != F.lit(""))
    malformed = (present_tv & th_in.isNull()) | (present_rv & rnd_explicit.isNull())

    if never:
        # neverSampler fakes full randomness so no consistency error fires
        # (logsprocessor.go:115-120); only a priority override can sample.
        rnd = F.lit(MAX_ADJUSTED_COUNT - 1).cast("long")
        carrier_err = malformed
        th_decided = F.lit(NEVER_SAMPLE_THRESHOLD).cast("long")
        cleared_in = th_in
    elif mode == "hash_seed":
        key = F.col(hash_key_col) if hash_key_col else F.col(trace_id_col)
        rnd = F.when(
            key.isNotNull() & (F.length(key) > 0), randomness_from_key_col(key, hash_seed)
        )
        # hash_seed refuses to override explicit sampling state
        # (ErrRandomnessInUse/ErrThresholdInUse, logsprocessor.go:148-160).
        carrier_err = malformed | (~malformed & (present_rv | present_tv))
        th_decided = F.lit(hash_seed_threshold(pct)).cast("long")
        cleared_in = F.lit(None).cast("long")  # carrier nil on every error
    else:
        rnd_tid = (
            trace_id_randomness_col(F.col(trace_id_col))
            if trace_id_col
            else F.lit(None).cast("long")
        )
        rnd = F.coalesce(rnd_explicit, rnd_tid)
        carrier_err = malformed
        if mode == "equalizing":
            const_th = probability_to_threshold(ratio, precision)
            # keep an incoming *larger* threshold (smaller probability),
            # else raise to the configured one (sampler_mode.go:267-272)
            th_decided = F.greatest(F.coalesce(th_in, F.lit(0)), F.lit(const_th)).cast("long")
        elif mode == "proportional":
            prob_in = (F.lit(MAX_ADJUSTED_COUNT) - F.coalesce(th_in, F.lit(0))).cast(
                "double"
            ) / F.lit(float(MAX_ADJUSTED_COUNT))
            th_decided = probability_to_threshold_col(prob_in * F.lit(ratio), precision)
        else:
            raise ValueError(f"unknown sampler mode: {mode}")
        cleared_in = th_in

    # Stage the mode's randomness / decision columns too (same codegen-size
    # rationale as the parse columns above).
    df = df.withColumns({"_rnd0": rnd, "_th_dec": th_decided, "_cerr": carrier_err})
    rnd = F.col("_rnd0")
    th_decided = F.col("_th_dec")
    carrier_err = F.col("_cerr")

    # consistencyCheck (sampler_mode.go:350-372): missing randomness is an
    # error; an arriving T-value that would not have sampled this record's
    # randomness is a lie — cleared, and an error.
    missing_rnd = rnd.isNull()
    inconsistent = (
        ~carrier_err & ~missing_rnd & th_in.isNotNull() & ~should_sample_col(th_in, rnd)
    )
    errored = carrier_err | missing_rnd | inconsistent
    # incoming threshold as visible to updateThreshold after the check
    th_in_eff = F.when(inconsistent | carrier_err, F.lit(None).cast("long")).otherwise(
        cleared_in
    )

    # error -> threshold forced (commonShouldSampleLogic:486-497)
    forced = NEVER_SAMPLE_THRESHOLD if fail_closed else ALWAYS_SAMPLE_THRESHOLD
    th_base = F.when(errored, F.lit(forced).cast("long")).otherwise(th_decided)

    # Sampling priority (logsprocessor.go:239-268): a non-zero numeric attr
    # replaces the threshold with prob=v/100 when encodable.
    if priority_col is not None:
        pri = F.col(priority_col).cast("double") / F.lit(100.0)
        has_pri = (
            F.col(priority_col).cast("double").isNotNull()
            & (pri > 0)
            & (pri <= 1.0)
            & (pri >= F.lit(MIN_SAMPLING_PROBABILITY))
        )
        th_final = F.when(has_pri, probability_to_threshold_col(pri, precision)).otherwise(
            th_base
        )
    else:
        th_final = th_base

    df = df.withColumns({"_th_fin": th_final, "_th_in_eff": th_in_eff})
    th_final = F.col("_th_fin")
    th_in_eff = F.col("_th_in_eff")

    # missing randomness compares as the zero value (Go Randomness{})
    rnd_eff = F.coalesce(rnd, F.lit(0).cast("long"))
    keep = should_sample_col(th_final, rnd_eff)

    # updateThreshold on the sampled survivors: never lower an existing
    # threshold (ErrInconsistentSampling, logsprocessor.go:90-97); carrier
    # errors leave the original attribute untouched.
    stamped = F.greatest(th_final, F.coalesce(th_in_eff, F.lit(0))).cast("long")
    out_tv = F.when(carrier_err, tv_raw).otherwise(threshold_tvalue_col(stamped))
    out_adj = F.when(carrier_err, F.lit(None).cast("double")).otherwise(
        adjusted_count_col(stamped)
    )
    out_rv = F.when(carrier_err | missing_rnd, F.lit(None).cast("string")).otherwise(
        randomness_rvalue_col(rnd_eff)
    )
    return (
        df.filter(F.coalesce(keep, F.lit(False)))
        .withColumn("sampling_threshold", out_tv)
        .withColumn("sampling_randomness", out_rv)
        .withColumn("adjusted_count", out_adj)
        .drop("_tv_raw", "_rv_raw", "_th_in", "_rnd_explicit", "_rnd0", "_th_dec",
              "_cerr", "_th_fin", "_th_in_eff")
    )


# --- max-min fair share allocation -------------------------------------------
def max_min_fair_share(
    df: DataFrame,
    tenant_cols: list[str],
    demand_col: str,
    capacity: float,
) -> DataFrame:
    """Max-min fair (water-filling) allocation of a shared ingest
    capacity across tenants — the multi-tenant rate-limit planner: small
    tenants get their full demand, large tenants split what remains
    equally, and no tenant can gain without a smaller one losing. The
    dynamicsampling/rate-limit policies decide WHEN to shed; this decides
    WHO gets how much.

    The iterative water-level algorithm has a sort-order closed form:
    with demands ascending, tenant i is fully satisfiable iff
    prefix_{i−1} + d_i·(n−i+1) ≤ C (serving it at level d_i fits), and
    the final water level T = (C − Σ satisfied demands) / #unsatisfied.
    One sort window + one aggregate — no iteration, no driver loop.
    Demands and prefixes are decimal-exact; T is the one double
    division. If total demand ≤ C everyone gets their demand. Ties in
    demand are safe: satisfiability is monotone in the sorted order and
    equal demands share equal verdicts.

    Output per tenant: demand, share (≤ demand), capped flag."""
    if capacity < 0:
        raise ValueError("capacity must be non-negative")
    d = F.col(demand_col).cast("decimal(18,6)")
    w = Window.orderBy(F.col(demand_col).asc(), *[F.col(c) for c in tenant_cols])
    cum = w.rowsBetween(Window.unboundedPreceding, -1)
    tot = Window.partitionBy()
    cap = F.lit(capacity).cast("decimal(18,6)")
    staged = df.select(
        *tenant_cols,
        d.alias("_d"),
        F.coalesce(F.sum(d).over(cum), F.lit(0).cast("decimal(28,6)")).alias("_pfx"),
        (F.count(F.lit(1)).over(tot) - F.row_number().over(w) + 1).alias("_rem"),
    )
    sat = (F.col("_pfx") + F.col("_d") * F.col("_rem")) <= cap
    flagged = staged.select(*tenant_cols, "_d", sat.alias("_sat"))
    level = flagged.select(
        F.coalesce(
            F.sum(F.when(F.col("_sat"), F.col("_d"))), F.lit(0).cast("decimal(28,6)")
        ).alias("_served"),
        F.sum((~F.col("_sat")).cast("int")).alias("_n_uns"),
    ).withColumn("_k", F.lit(1))
    out = flagged.withColumn("_k", F.lit(1)).join(broadcast(level), "_k")
    t_level = F.when(
        F.col("_n_uns") > 0,
        (cap.cast("double") - F.col("_served").cast("double")) / F.col("_n_uns"),
    )
    share = F.when(F.col("_sat"), F.col("_d").cast("double")).otherwise(t_level)
    return out.select(
        *tenant_cols,
        F.round(F.col("_d").cast("double"), 6).alias("demand"),
        F.round(share, 6).alias("share"),
        (~F.col("_sat")).alias("capped"),
    )
