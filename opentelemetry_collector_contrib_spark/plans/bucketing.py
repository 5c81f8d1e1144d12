"""Bucketed-table co-location: amortize the conv_id shuffle once at
write time, then run every per-conversation operator shuffle-free.

The reference keeps per-entity state local by construction (a stanza
pipeline processes one file's records in order; groupbytrace buffers by
trace id in one process — pkg/stanza/pipeline, processor/
groupbytraceprocessor). On a cluster the analogous guarantee is storage
bucketing: `bucketBy(conv_id)` writes each conversation's turns into
exactly one bucket file per writer task, and Spark's relation catalog
records the hash partitioning, so downstream `groupBy(conv_id)`,
windows over `(conv_id ORDER BY turn_idx)`, and joins between two
tables bucketed the same way all satisfy their distribution requirement
from the scan — ZERO Exchange nodes (verified by
`tests/test_bucketing.py` plan assertions).

At 10^12 turns this is the difference between re-shuffling ~100 TB for
every per-conversation pass (latency accounting, QA gates, recombine,
SFT extraction, ...) and shuffling it exactly once at ingest. The
bucket count is a real knob: pick ≥ max cluster parallelism and size so
one bucket's largest conversation set fits an executor
(`n_buckets=4096` at 100 TB ≈ 25 GB/bucket pre-filter).

Bucketed tables require the session catalog (`saveAsTable`); plain
`parquet(path)` writes cannot carry bucket metadata — that is a Spark
contract, not a choice here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    n_buckets: int = 64,
    bucket_cols: tuple[str, ...] = ("conv_id",),
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as a bucketed (+ per-bucket sorted) catalog table.

    ``sort_cols`` orders rows inside each bucket file so the stable-turn
    window needs only a local sort (no exchange) and sort-merge joins
    can skip the sort entirely.
    """
    (
        df.write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .saveAsTable(name)
    )
    return name


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table with its catalog partitioning metadata
    (``spark.read.parquet(path)`` would discard it)."""
    return spark.table(name)


# Plan probe of the no-exchange tests in tests/test_bucketing.py.
def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) nodes in the executed plan — the
    co-location assertion used by tests and plan audits. Collapses AQE
    wrappers by counting on the final executed-plan string."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")
