"""Z-order (Morton) clustering keys: multi-dimensional data layout for
file-skipping at lake scale.

A snapshot table prunes files by per-file min/max column stats
(plans/snapshots.py). Sorting the layout by ONE column makes that
column's bounds tight per file and every other column's bounds useless —
a 2-D box predicate then prunes almost nothing on the second dimension.
Interleaving the bits of both dimensions into one Morton key and
range-clustering on it keeps EVERY participating column locally narrow
per file, so box predicates prune multiplicatively. This is the same
layout strategy Iceberg/Delta expose as ``ZORDER BY``; here it is a pure
codegen projection plus one repartitionByRange.

Determinism note: coordinates quantize with clamp + SHIFT only (the
bound span rounds up to a power of two, then the top ``bits`` bits are
kept) — no floating point, no division — so the key is bit-identical
across engines (the DuckDB oracle recomputes it via ``zorder_sql``) and
across runs, a requirement for stable file layout under re-ingest.

Bounds are caller-supplied literals (the package's drift-bounds
convention: compute them in a prior tiny aggregate if unknown, inline as
literals so the key stays a projection — no join, no shuffle).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _shift_for(lo: int, hi: int, bits: int) -> int:
    """How far to right-shift (x - lo) so the result fits in ``bits``
    bits: the span rounds up to the next power of two and the excess
    low-order bits are discarded (uniform quantization, exact)."""
    span = hi - lo + 1
    log2span = max(1, (span - 1).bit_length())
    return max(0, log2span - bits)


def zorder_key(
    cols: list[Column | str],
    bounds: list[tuple[int, int]],
    bits: int = 16,
) -> Column:
    """Morton-interleave N quantized coordinates into one bigint key.

    bit b of coordinate i lands at position b*N + i; total key width is
    bits*N (keep <= 63). Unrolled shift/and/or terms — whole-stage
    codegen, zero shuffle. Constant dimensions (hi == lo) contribute no
    bits. NULL coordinates clamp to lo.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"bits*n = {bits * n} exceeds a signed bigint")
    if len(bounds) != n:
        raise ValueError("one (lo, hi) bound pair per column required")
    terms: list[Column] = []
    for i, (c, (lo, hi)) in enumerate(zip(cols, bounds)):
        if hi == lo:
            continue
        col = F.col(c) if isinstance(c, str) else c
        x = F.coalesce(col.cast("bigint"), F.lit(int(lo)))
        x = F.greatest(F.least(x, F.lit(int(hi))), F.lit(int(lo))) - F.lit(int(lo))
        q = F.shiftright(x, _shift_for(int(lo), int(hi), bits))
        for b in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    if not terms:
        return F.lit(0).cast("bigint")
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_sql(cols: list[str], bounds: list[tuple[int, int]], bits: int = 16) -> str:
    """The identical key as engine-portable SQL (oracle twin of
    zorder_key; same clamp, same shifts, same bit positions)."""
    n = len(cols)
    terms: list[str] = []
    for i, (c, (lo, hi)) in enumerate(zip(cols, bounds)):
        if hi == lo:
            continue
        x = f"(greatest(least(coalesce(CAST({c} AS BIGINT), {lo}), {hi}), {lo}) - {lo})"
        q = f"({x} >> {_shift_for(int(lo), int(hi), bits)})"
        for b in range(bits):
            terms.append(f"((({q} >> {b}) & 1) << {b * n + i})")
    return "(" + " | ".join(terms) + ")" if terms else "CAST(0 AS BIGINT)"


# Fixture of tests/test_zorder.py::test_zorder_prunes_more_files_than_linear_sort,
# which checks the live prune_files against it.
def cluster_by_zorder(
    df: DataFrame,
    cols: list[str],
    bounds: list[tuple[int, int]],
    n_partitions: int,
    bits: int = 16,
    key_col: str = "z_key",
) -> DataFrame:
    """Attach the Morton key and range-cluster the layout on it: rows
    that are close in EVERY dimension land in the same output file, so
    per-file min/max stats stay tight on all of them (write with
    ``plans.snapshots.write_snapshot(stats_cols=cols)`` to capture the
    payoff). One range shuffle (sampled boundaries, skew-tolerant) +
    in-partition sort; drop the key column after writing if it shouldn't
    persist."""
    keyed = df.withColumn(key_col, zorder_key(cols, bounds, bits))
    return keyed.repartitionByRange(n_partitions, key_col).sortWithinPartitions(key_col)
