"""Log-template clustering and stream-hygiene guards.

drainprocessor analogue (processor/drainprocessor/processor.go + README
"How it works"): Drain builds a parse tree over tokens and converges each
cluster to a template like "user <*> logged in", attaching it as a
log.record.template attribute. The fixed-depth tree exists to make
clustering cheap on a row-at-a-time stream; in a columnar engine the same
converged template is reachable in one vectorized pass: mask the variable
token classes (numbers, hex ids, quoted strings), then hash-aggregate on
the masked text. For corpora where variability IS those token classes
(the overwhelming log case, and exactly what the drain README's examples
mask), the two algorithms produce the same clusters — without per-record
tree state, which would be a driver-side bottleneck at 10^12 rows.

cardinalityguardianprocessor analogue: bound the distinct-key explosion of
a label before it reaches an aggregate. Exact count for the oracle gate;
approx_count_distinct (HLL, constant memory) is the 100 TB path.

metricsgenerationprocessor analogue: derive metric = binary op of two
metrics after pivoting them side-by-side.

servicegraphconnector analogue: caller -> callee edges. Spans carry parent
ids; transcripts don't, so the conversation's edge set is consecutive-turn
role transitions — same plan shape (self-join / lag window + count), same
output contract (edge dims + call count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._groups import arrow_schema, bounds, group_kernel, pylist, rows_to_batch

# ordered mask rules: (regex, replacement). Applied left to right, all
# global — mirrors drain's masking config (README masking section).
DEFAULT_MASKS: list[tuple[str, str]] = [
    (r"0x[0-9a-fA-F]+", "<*>"),          # hex ids
    (r"\b\d+\.\d+\.\d+\.\d+\b", "<*>"),  # ipv4
    (r"\b[0-9a-f]{8,}\b", "<*>"),        # long hex hashes
    (r"\d+", "<*>"),                     # numbers
    (r'"[^"]*"', "<*>"),                 # quoted strings
]


def mask_template(col: Column, masks: list[tuple[str, str]] | None = None) -> Column:
    out = col
    for pat, rep in masks or DEFAULT_MASKS:
        out = F.regexp_replace(out, pat, rep)
    return out


def drain_templates(
    df: DataFrame,
    text_col: str = "text",
    masks: list[tuple[str, str]] | None = None,
    merge_threshold: int | None = 3,
) -> DataFrame:
    """One row per converged template: (template, match_count, example).
    Example = lexicographic-min raw text for determinism.

    Two convergence passes, mirroring what Drain's parse tree does
    (processor/drainprocessor README "How it works"):

    1. class masking (numbers/hex/quotes → ``<*>``) — the masking config;
    2. positional word merge — Drain also converges *word*-token
       variability ("user alice logged in" / "user bob logged in" → one
       "user <*> logged in" cluster). Columnar equivalent: cluster rows by
       Drain's tree prefix (token count + first token — the tree's length
       and first-token internal nodes, so differing first tokens stay
       separate clusters exactly as in the tree), count distinct tokens
       per position inside each cluster, and rewrite positions whose
       distinct count exceeds ``merge_threshold`` to ``<*>``. This is the
       similarity-threshold convergence without per-record tree state — a
       driver-side bottleneck at 10^12 rows.

    merge_threshold=None keeps the mask-only single-pass behavior.

    Scale: one token-level posexplode feeding a map-side-combinable
    distinct-count agg (keys = clusters × positions, tiny vs rows); the
    variable-position table is broadcast back (no row shuffle for the
    join); the final template agg is one ordinary hash aggregation."""
    masked = df.select(mask_template(F.col(text_col), masks).alias("masked"), F.col(text_col))
    if merge_threshold is None:
        return masked.groupBy(F.col("masked").alias("template")).agg(
            F.count(F.lit(1)).alias("match_count"),
            F.min(text_col).alias("example"),
        )
    toks = F.filter(F.split(F.trim(F.col("masked")), r"\s+"), lambda x: x != "")
    base = masked.select(F.col(text_col), toks.alias("toks")).select(
        text_col,
        "toks",
        F.size("toks").alias("n"),
        F.coalesce(F.element_at("toks", 1), F.lit("")).alias("head"),
    )
    exploded = base.select("n", "head", F.posexplode("toks").alias("pos", "tok"))
    stats = exploded.groupBy("n", "head", "pos").agg(F.count_distinct("tok").alias("nd"))
    varpos = (
        stats.filter(F.col("nd") > merge_threshold)
        .groupBy("n", "head")
        .agg(F.collect_set("pos").alias("vp"))
    )
    joined = base.join(F.broadcast(varpos), ["n", "head"], "left")
    vp = F.coalesce(F.col("vp"), F.array().cast("array<int>"))
    merged = F.array_join(
        F.transform(
            F.col("toks"),
            lambda t, i: F.when(F.array_contains(vp, i), F.lit("<*>")).otherwise(t),
        ),
        " ",
    )
    return joined.groupBy(merged.alias("template")).agg(
        F.count(F.lit(1)).alias("match_count"),
        F.min(text_col).alias("example"),
    )


# ---------------------------------------------------------------------------
# Drain parse tree (round 4): the REAL fixed-depth tree + similarity
# threshold, distributed
# ---------------------------------------------------------------------------
#
# go-drain3's tree (processor/drainprocessor/internal/drain/drain.go wrapping
# the public Drain3 algorithm, He et al. 2017) routes a log through: root →
# token-count node → one node per leading token for depth-2 levels (a token
# containing a digit navigates as "<*>") → a LEAF holding clusters; the leaf's
# best cluster by seq_dist similarity wins if sim ≥ SimThreshold, else a new
# cluster opens, and the winning template wildcards every differing position.
#
# The distributed insight: with effectively-unlimited children/clusters (the
# reference's own defaults map MaxClusters→MaxInt32), rows in DIFFERENT leaves
# can never share a cluster — the leaf key (token count + masked token prefix)
# is a pure function of the row. So the tree is ONE hash shuffle on the leaf
# key + an Arrow-batched per-leaf fold, the same two-level shape as the
# heavy-hitters operator; no driver-side tree state at 10^12 rows.
#
# Determinism contract: Drain is arrival-order sensitive, so the batch
# operator processes each leaf in a CANONICAL order (order_col if given, else
# raw text). Simplifications vs go-drain3, documented: no MaxChildren
# overflow branch and no LRU cluster eviction (both order/traffic dependent;
# the reference's defaults make them rare), mask rules applied before
# tokenising exactly as processor.go does.

PARAM = "<*>"


def drain_fold(
    rows: list[tuple[str, str]], sim_th: float
) -> list[tuple[str, int, str]]:
    """The leaf-level cluster fold, shared verbatim by the Spark kernel and
    the pure-Python whole-tree reference in tests. ``rows`` are
    (masked_text, raw_text) in canonical order and MUST share one leaf
    (same token count, same navigation prefix). Returns
    (template, match_count, example-min-raw) per cluster.

    seq_dist is drain3's add-path form (include_params=False): a template
    wildcard contributes to param_count, an exact token match to
    sim_count, sim = sim_count/len; best cluster by (sim, param_count);
    match iff sim ≥ sim_th; update wildcards differing positions."""
    clusters: list[dict] = []
    for masked, raw in rows:
        toks = masked.split()
        n = len(toks)
        best, best_sim, best_pc = None, -1.0, -1
        for c in clusters:
            tmpl = c["tmpl"]
            if len(tmpl) != n:
                continue
            if n == 0:
                sim, pc = 1.0, 0
            else:
                sim_count = pc = 0
                for a, b in zip(tmpl, toks):
                    if a == PARAM:
                        pc += 1
                    elif a == b:
                        sim_count += 1
                sim = sim_count / n
            if sim > best_sim or (sim == best_sim and pc > best_pc):
                best, best_sim, best_pc = c, sim, pc
        if best is None or best_sim < sim_th:
            clusters.append({"tmpl": list(toks), "count": 1, "example": raw})
        else:
            best["tmpl"] = [
                a if a == b else PARAM for a, b in zip(best["tmpl"], toks)
            ]
            best["count"] += 1
            if raw < best["example"]:
                best["example"] = raw
    return [(" ".join(c["tmpl"]), c["count"], c["example"]) for c in clusters]


def drain_tree_templates(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    sim_th: float = 0.4,
    masks: list[tuple[str, str]] | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Drain parse-tree clustering, distributed: (template, match_count,
    example) per converged cluster — the tree-faithful sibling of
    ``drain_templates`` (which remains the scan-speed mask+merge
    approximation; on mixed-WORD-variability logs the two disagree and
    THIS one matches the reference).

    depth/sim_th mirror the processor's tree_depth / merge_threshold
    config (config.go); depth counts root+length+prefix levels as in
    drain3, so ``depth-2`` leading tokens route the tree. Each leaf is
    folded by ``drain_fold`` on the grouped Arrow kernel (`_groups.py`)."""
    if depth < 3:
        raise ValueError("depth must be >= 3 (go-drain3 requirement)")
    prefix_len = depth - 2
    masked = df.select(
        mask_template(F.col(text_col), masks).alias("_masked"),
        F.col(text_col).alias("_raw"),
        (F.col(order_col) if order_col else F.col(text_col)).alias("_ord"),
    )
    toks = F.filter(F.split(F.trim(F.col("_masked")), r"\s+"), lambda x: x != "")
    keyed = masked.select(
        "_masked",
        "_raw",
        "_ord",
        F.concat_ws(
            "\x1f",
            F.size(toks).cast("string"),
            F.array_join(
                F.transform(
                    F.slice(toks, 1, prefix_len),
                    lambda t: F.when(t.rlike(r"\d"), F.lit(PARAM)).otherwise(t),
                ),
                "\x1f",
            ),
        ).alias("_leaf"),
    )

    out_schema = "template string, match_count bigint, example string"
    schema = arrow_schema(out_schema)

    def kernel(batch, starts):
        ords, masked_, raws = (pylist(batch.column(c)) for c in ("_ord", "_masked", "_raw"))
        out = []
        for lo, hi in bounds(starts, batch.num_rows):
            rows = sorted(zip(ords[lo:hi], masked_[lo:hi], raws[lo:hi]))  # canonical order within the leaf
            out += drain_fold([(m, r) for _, m, r in rows], sim_th)
        return rows_to_batch(out, schema)

    return group_kernel(keyed, ["_leaf"], [], out_schema, kernel)


# ---------------------------------------------------------------------------


def cardinality_guard(
    df: DataFrame,
    key_cols: list[str],
    limit: int,
    exact: bool = True,
) -> DataFrame:
    """Per key-column: distinct count + over-limit flag. exact=False uses
    approx_count_distinct (HLL sketch — the only memory-bounded option at
    10^12 rows; rsd ~2.3% counts cardinality explosions just fine)."""
    cnt = (lambda c: F.count_distinct(F.col(c))) if exact else (lambda c: F.approx_count_distinct(F.col(c)))
    rows = [
        df.select(
            F.lit(c).alias("key"),
            cnt(c).alias("distinct_count"),
        )
        for c in key_cols
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.withColumn("over_limit", F.col("distinct_count") > limit)


# ---------------------------------------------------------------------------


def metrics_generation_ratio(
    df: DataFrame,
    dims: list[str],
    name_col: str,
    value_col: str,
    numerator: str,
    denominator: str,
    out_col: str = "ratio",
) -> DataFrame:
    """Derived metric = sum(value | name==numerator) / sum(value | name==
    denominator) per dim group — the pivot+divide shape of
    metricsgenerationprocessor (calculate mode). Decimal accumulation keeps
    the sums engine-exact regardless of row order; the final DOUBLE cast
    pins one output type (engines widen sum(decimal) differently)."""
    num = F.sum(F.when(F.col(name_col) == numerator, F.col(value_col).cast("decimal(18,6)")))
    den = F.sum(F.when(F.col(name_col) == denominator, F.col(value_col).cast("decimal(18,6)")))
    return df.groupBy(*dims).agg(
        num.cast("double").alias("num_total"),
        den.cast("double").alias("den_total"),
    ).withColumn(
        out_col,
        F.when(F.col("den_total") != 0, F.round(F.col("num_total").cast("double") / F.col("den_total").cast("double"), 6)),
    )


# ---------------------------------------------------------------------------


def service_graph_edges(
    df: DataFrame,
    trace_col: str = "conv_id",
    node_col: str = "role",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Caller->callee edge counts from consecutive rows within a trace
    (servicegraphconnector's parent->child edge aggregation; here the
    parent of turn N is turn N-1). One window + one hash aggregation, both
    partitioned by the trace key — reuses the pipeline's conv_id shuffle."""
    order_cols = order_cols or ["turn_idx"]
    w = Window.partitionBy(trace_col).orderBy(*[F.col(c) for c in order_cols])
    edges = df.withColumn("_caller", F.lag(F.col(node_col)).over(w)).filter(F.col("_caller").isNotNull())
    return edges.groupBy(F.col("_caller").alias("caller"), F.col(node_col).alias("callee")).agg(
        F.count(F.lit(1)).alias("call_count")
    )


# ---------------------------------------------------------------------------


def robust_anomaly_score(
    df: DataFrame,
    dims: list[str],
    value_col: str,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Per-dim robust outlier scoring — the relational analogue of the
    isolationforestprocessor's anomaly flagging (that processor trains
    per-stream isolation trees; the deterministic, oracle-checkable
    equivalent for a value column is the modified z-score over median/MAD,
    the standard robust detector). score = 0.6745*(x - median)/MAD;
    |score| > z_threshold flags the row. Exact percentiles so any engine
    reproduces the verdicts; two hash aggregations + two broadcast-size
    joins on the (low-cardinality) dim key."""
    med = df.groupBy(*dims).agg(F.expr(f"percentile({value_col}, 0.5)").alias("_med"))
    with_med = df.join(med, dims)
    mad = with_med.groupBy(*dims).agg(
        F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad")
    )
    scored = with_med.join(mad, dims).withColumn(
        "anomaly_score",
        F.when(
            F.col("_mad") > 0,
            F.round(F.lit(0.6745) * (F.col(value_col) - F.col("_med")) / F.col("_mad"), 6),
        ),
    )
    return scored.withColumn(
        "is_anomaly", F.coalesce(F.abs(F.col("anomaly_score")) > z_threshold, F.lit(False))
    ).drop("_med", "_mad")


def pagerank_iterations(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src_col: str = "caller",
    dst_col: str = "callee",
    weight_col: str | None = "call_count",
) -> DataFrame:
    """Weighted PageRank by a FIXED number of unrolled power iterations —
    node centrality over the service graph (which tool/role is the hub).

    Deterministic and engine-portable by construction: a fixed iteration
    count (no convergence test — the plan is a static DAG an oracle can
    mirror by unrolling the same CTE levels), uniform 1/N init, dangling
    nodes redistribute nothing (standard simplification, documented),
    and each node's incoming contributions are summed by a SRC-SORTED
    sequential fold, never a hash-agg float sum, so addition order is
    pinned. In-degree bounds the per-node fold state; N (node count) is
    one tiny driver scalar.

    Scale: per iteration, one equi-join of the rank table against the
    edge list (both keyed on the node) + one fold aggregation — the
    standard message-passing shape; n_iter is small and fixed.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # edge share: fraction of src's rank shipped along this edge
    share = e.join(out_w, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("out_w")).alias("frac")
    )
    pr = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    for _ in range(n_iter):
        contrib = share.join(
            pr.withColumnRenamed("node", "src"), "src"
        ).select("dst", "src", (F.col("pr") * F.col("frac")).alias("c"))
        summed = contrib.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda a, x: a + x["c"],
            ).alias("in_sum")
        )
        pr = nodes.join(
            summed.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select("node", F.round("pr", 6).alias("pagerank"))

