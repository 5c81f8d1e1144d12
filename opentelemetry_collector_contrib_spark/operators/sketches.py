"""Exact heavy hitters from a bounded-memory sketch.

`heavy_hitter_candidates` folds each partition into a weighted Misra-Gries
summary of at most k counters; the union of the per-partition survivors is
a superset of every item above n/k. `heavy_hitters` recounts only those
candidates in one hash aggregate, so its answer is exact and the
full-cardinality groupBy shuffle never happens. The DuckDB oracle checks the
exact answer (tests/test_heavy_hitters.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Heavy hitters: bounded-memory candidates, exact answer
# ---------------------------------------------------------------------------

def heavy_hitter_candidates(
    items: DataFrame, item_col: str, k: int, max_batch: int = 65536
) -> DataFrame:
    """Per-partition weighted Misra-Gries summaries -> a small candidate set.

    Each task folds its rows into at most ``k`` counters (weighted MG:
    add the batch count, then when more than ``k`` counters are live,
    subtract the minimum surviving weight from all and drop the zeros).
    The classic guarantee composes across partitions by pigeonhole: any
    item with GLOBAL frequency > n/k has, in at least one partition,
    local frequency > n_p/k, so it survives that partition's summary —
    the union of per-partition survivors is a superset of every item
    above the n/k threshold.

    Output: distinct candidate item values (one small column). Size is
    bounded by k x num_partitions regardless of input cardinality — this
    is the whole point at 10^12 rows: the full-cardinality groupBy
    shuffle never happens; only candidates are ever recounted.
    """
    from pyspark.sql import types as T

    field = items.schema[item_col]
    schema = T.StructType([field])

    def _mg(batches):
        import pandas as pd

        counters: dict[object, int] = {}
        for pdf in batches:
            for item, c in pdf[item_col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
                if len(counters) > k:
                    d = min(counters.values())
                    counters = {i: w - d for i, w in counters.items() if w > d}
        yield pd.DataFrame({item_col: list(counters.keys())})

    return (
        items.select(item_col)
        .mapInPandas(_mg, schema)
        .dropDuplicates([item_col])
    )


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    threshold_frac: float,
    k: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters (frequency > threshold_frac of all rows) without
    a full-cardinality shuffle.

    Sketch-prune-verify, the package's LSH-candidates pattern applied to
    frequency: (1) Misra-Gries candidates per partition (superset
    guarantee, see heavy_hitter_candidates); (2) one hash aggregation
    where every NON-candidate collapses into a single (is_cand=false,
    item=NULL) group — map-side combine makes the shuffle carry at most
    |candidates|+1 keys per task, never the item cardinality; (3) filter
    by the exact total computed in the same aggregate. Because candidates
    are a superset of every above-threshold item, the verified output
    EQUALS the exact answer — which is what the DuckDB oracle checks.

    ``k`` defaults to ceil(1/threshold_frac)+1 (the tightest k with the
    guarantee, +1 for strict-inequality safety). Memory per task is O(k);
    the candidate broadcast is k x partitions rows — with the intended
    thresholds (>= ~1e-5) that is megabytes. For rarer items use the
    plain groupBy instead: below n/k the sketch cannot help.

    Columns: item (named after item_col), cnt, freq (round 9).
    """
    import math

    if k is None:
        k = int(math.ceil(1.0 / threshold_frac)) + 1
    cand = heavy_hitter_candidates(items, item_col, k).withColumn(
        "_is_cand", F.lit(True)
    )
    flagged = items.join(F.broadcast(cand), on=item_col, how="left")
    counts = (
        flagged.groupBy(
            F.coalesce(F.col("_is_cand"), F.lit(False)).alias("is_cand"),
            F.when(F.col("_is_cand"), F.col(item_col)).alias(item_col),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # The aggregated frame is tiny (<= candidates + 1 rows): an
    # unpartitioned window over it is a single-task sum, not a scale risk.
    from pyspark.sql.window import Window

    total = F.sum("cnt").over(Window.partitionBy())
    return (
        counts.withColumn("total", total)
        .filter(F.col("is_cand") & (F.col("cnt") > F.col("total") * F.lit(threshold_frac)))
        .select(
            item_col,
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 9).alias("freq"),
        )
    )
