"""The flagship pipeline: parse → enrich → route → order → aggregate.

This is the Spark re-expression of the collector's receiver → processor →
exporter topology (SURVEY.md §3.1). The fixture pipeline is data: a spec
(fixture_spec) compiled by config.build_pipeline, the same compiler every
--config pipeline goes through; Catalyst is the optimizer the reference
lacks, and the per-pipeline goroutines become executor tasks.

Plan shape:
  scan (parquet/Iceberg, pruned to 6 columns, predicate pushdown)
   → parse projection (whole-stage codegen, zero shuffle)
   → 2 broadcast joins (zero shuffle)
   → route projection (zero shuffle)
   → stable turn order: ONE exchange on conv_id for the row_number window
     (order.partitions makes it an explicit repartition(n, conv_id))
   → [sinks: filter+write off the persisted routed frame]
   → aggregates (pipeline_aggregates): groupBy rollups
"""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import ensure_dims, ensure_tier, tier_for_sf_dir
from ..operators import aggregate as agg_ops
from ..operators.enrich import ROLE_DEFAULTS, TOOL_DEFAULTS
from ..operators.route import FIXTURE_ROUTE_SPEC
from .config import build_pipeline


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source stage (filelog-receiver analogue): the transcript table IS the
    receiver; Iceberg in production, parquet in-sandbox (same scan contract)."""
    tier = tier_for_sf_dir(sf_dir)
    path = ensure_tier(tier)
    return spark.read.parquet(path)


def fixture_spec(sf_dir: str) -> dict[str, Any]:
    """The fixture pipeline as a config spec (plans/config.py schema):
    native parse, the two dim lookups of enrich_transcripts, the fixture
    route table in OTTL, stable turn order."""
    tool_path, role_path = ensure_dims()
    return {
        "source": {"path": ensure_tier(tier_for_sf_dir(sf_dir))},
        "parse": {"bank": "native"},
        "enrich": [
            {"dim_path": tool_path, "key": "tool", "defaults": dict(TOOL_DEFAULTS)},
            {"dim_path": role_path, "key": "role", "defaults": dict(ROLE_DEFAULTS)},
        ],
        "routes": copy.deepcopy(FIXTURE_ROUTE_SPEC),
        "order": {"enabled": True},
    }


def build_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan → parse → enrich → route → order; returns the routed frame
    (pre-sink)."""
    return build_pipeline(spark, fixture_spec(sf_dir))


def pipeline_aggregates(routed: DataFrame) -> dict[str, DataFrame]:
    """The groupbyattrs-style rollups the north star names."""
    per_conv = agg_ops.group_by_attrs(routed, ["route_id", "conv_id"])
    per_tool = (
        routed.groupBy("route_id", "tool", "tool_category")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("tool_cost_weight"), 4).alias("sum_cost"),
        )
    )
    return {"agg_per_conv": per_conv, "agg_per_tool": per_tool}
