"""Route-table compiler: routingconnector + stanza router, Spark-first.

Reference semantics (connector/routingconnector/logs.go:63-172):
  - ordered route table; each route = condition + target pipeline(s)
  - MOVE (default): first matching route claims the record, evaluation stops
    (MoveRecordsWithContextIf at logs.go:142) — the routes PARTITION the stream
  - COPY: record is copied to the route's sinks and continues matching
  - leftovers → default_pipelines (logs.go:163)

Spark mapping: move-routes compile to ONE ordered `when` chain producing a
`route_id` column — first-match-wins is the chain's native semantics, and the
whole table evaluates in a single codegen'd projection, no per-route pass.
Copy-routes are independent boolean columns. Sink fan-out filters the routed
frame once per sink; the routed frame is cached/persisted so the scan +
parse + enrich work is paid once, not once per sink (the reference pays the
full pipeline per record regardless).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ottl_compiler import parse_condition


@dataclass
class Route:
    name: str
    condition: Callable[[DataFrame], Column] | Column | str  # str = SQL expr
    mode: str = "move"  # 'move' | 'copy'


@dataclass
class RouteTable:
    routes: list[Route]
    default: str = "general"

    def move_routes(self) -> list[Route]:
        return [r for r in self.routes if r.mode == "move"]

    def copy_routes(self) -> list[Route]:
        return [r for r in self.routes if r.mode == "copy"]


def _cond(df: DataFrame, c) -> Column:
    if isinstance(c, str):
        return F.expr(c)
    if callable(c) and not isinstance(c, Column):
        return c(df)
    return c


def apply_routes(df: DataFrame, table: RouteTable) -> DataFrame:
    """Add `route_id` (first-match move semantics) and one `copy_<name>`
    boolean per copy-route. One projection, no data movement."""
    chain: Column | None = None
    for r in table.move_routes():
        cond = _cond(df, r.condition)
        chain = F.when(cond, F.lit(r.name)) if chain is None else chain.when(cond, F.lit(r.name))
    route_id = (chain.otherwise(F.lit(table.default)) if chain is not None else F.lit(table.default))
    out = df.withColumn("route_id", route_id)
    for r in table.copy_routes():
        out = out.withColumn(f"copy_{r.name}", _cond(out, r.condition))
    return out


def sink_frames(routed: DataFrame, table: RouteTable | None) -> dict[str, DataFrame]:
    """One DataFrame per sink. Caller should .persist() `routed` first when
    writing multiple sinks (one upstream computation, N cheap filters).
    No table means no route_id column: the whole frame is the one sink
    `all`, the single-exporter topology."""
    if table is None:
        return {"all": routed}
    sinks: dict[str, DataFrame] = {}
    for r in table.move_routes():
        sinks[r.name] = routed.filter(F.col("route_id") == r.name)
    sinks[table.default] = routed.filter(F.col("route_id") == table.default)
    for r in table.copy_routes():
        sinks[r.name] = routed.filter(F.col(f"copy_{r.name}"))
    return sinks


def write_sinks_partitioned(routed: DataFrame, base_path: str) -> str:
    """Single-job sink write: all move-route sinks in one write partitioned by
    route_id (Hive layout `route_id=<sink>/`). At 100 TB this is the path:
    one pass, no persist, dynamic partition overwrite."""
    path = f"{base_path}/routed"
    (
        routed.drop(*[c for c in routed.columns if c.startswith("copy_")])
        .write.mode("overwrite")
        .partitionBy("route_id")
        .parquet(path)
    )
    return path


# The fixture route table (FIXTURES.md §4, mirrors
# connector/routingconnector/testdata/config/logs.yaml), written once as
# the spec's OTTL routes section:
#   1. parsed status == 'err'                  → errors      (move)
#   2. tool != 'none' AND role == 'assistant'  → tool_events (move)
#   3. role_group == 'human'                   → human_turns (copy)
#   default                                    → general
FIXTURE_ROUTE_SPEC = {
    "default": "general",
    "table": [
        {"name": "errors", "condition": 'status == "err"', "mode": "move"},
        {"name": "tool_events", "condition": 'tool != "none" and role == "assistant"', "mode": "move"},
        {"name": "human_turns", "condition": 'role_group == "human"', "mode": "copy"},
    ],
}


# FIXTURE_ROUTE_SPEC as a RouteTable, for callers that route without a spec
FIXTURE_ROUTES = RouteTable(
    routes=[
        # compiled when applied: a Column cannot be built at import time
        Route(r["name"], lambda df, src=r["condition"]: parse_condition(src), r["mode"])
        for r in FIXTURE_ROUTE_SPEC["table"]
    ],
    default=FIXTURE_ROUTE_SPEC["default"],
)


# --- loadbalancingexporter: consistent-hash backend routing ------------------

RING_MAX_POSITIONS = 131071  # consistent_hashing.go:14
RING_DEFAULT_WEIGHT = 200  # :15
RING_PROBE_LIMIT = 10  # :16


def build_hash_ring(
    endpoints: list[str],
    weight: int = RING_DEFAULT_WEIGHT,
    max_positions: int = RING_MAX_POSITIONS,
    probe_limit: int = RING_PROBE_LIMIT,
) -> list[tuple[int, str]]:
    """Karger-style hash ring, mirroring positionsForEndpointsWithOptions
    (exporter/loadbalancingexporter/consistent_hashing.go:110-170) exactly:
    `weight` crc32(endpoint || LE32(i)) positions per endpoint, candidates
    sorted by (pos, hash, endpoint), occupied positions linear-probed up to
    `probe_limit` then skipped. Runs driver-side (the ring is a tiny static
    structure, same as the reference building it on resolver updates);
    returns sorted (position, endpoint) items."""
    import struct as _struct
    import zlib

    candidates = []
    for ep in endpoints:
        for i in range(weight):
            h = zlib.crc32(ep.encode("utf-8") + _struct.pack("<I", i))
            candidates.append((h % max_positions, h, ep))
    candidates.sort()
    items: list[tuple[int, str]] = []
    used: set[int] = set()
    for pos, _, ep in candidates:
        actual, probed = pos, 0
        while actual in used and probed < probe_limit:
            actual = (actual + 1) % max_positions
            probed += 1
        if probed >= probe_limit:
            continue
        used.add(actual)
        items.append((actual, ep))
    items.sort()
    return items


def ring_route(
    df: DataFrame,
    key: Column | str,
    ring: list[tuple[int, str]],
    max_positions: int = RING_MAX_POSITIONS,
    out: str = "backend",
) -> DataFrame:
    """Assign each row's routing key (trace id / service name) to a backend
    via the ring: pos = hash(key) % max_positions, backend = the closest
    ring item at-or-after pos, wrapping to the first (endpointFor +
    findEndpoint, consistent_hashing.go:48-71). The per-key hash is the
    repo's engine-portable h60 (the reference's crc32 is a
    non-cryptographic detail; the ring algebra is what carries the
    rebalancing guarantee — when an endpoint leaves, only keys in its arcs
    move). Pure projection over two inlined literal arrays: no join, no
    shuffle, whole-stage codegen; rings are weight*endpoints items (~hundreds),
    well inside expression-size limits."""
    from .textstats import h60

    kcol = F.col(key) if isinstance(key, str) else key
    positions = F.lit([p for p, _ in ring])
    endpoints = [e for _, e in ring]
    pos = F.pmod(h60(kcol), F.lit(max_positions))
    nxt = F.array_min(F.filter(positions, lambda p: p >= pos))
    ring_pos = F.coalesce(nxt, F.lit(ring[0][0]))
    idx = F.array_position(positions, ring_pos)
    return df.withColumn(out, F.element_at(F.lit(endpoints), idx.cast("int")))

