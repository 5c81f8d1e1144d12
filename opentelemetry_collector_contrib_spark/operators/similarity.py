"""Similarity search over embedding columns: brute-force cosine top-k
(correctness baseline) and an IVF-bucketed variant (the 100 TB path).

Embeddings are `array<float>` columns; all math is promoted to double with
a sequential fold so the DuckDB oracle (same fold order) matches
bit-for-bit. No UDFs — `zip_with` + `aggregate` stay JVM-side inside
whole-stage codegen; at scale the dominant cost is the shuffle of the
candidate join, which IVF cuts by ~n_cells×.

IVF (inverted-file) design, deterministic for oracle parity:
  - coarse centroids = the first `n_cells` vectors of the table itself
    (vec_id < n_cells) — a deterministic stand-in for k-means centroids;
    swap in trained centroids in production, the plan shape is identical.
  - assign: every vector → argmax cosine over centroids (broadcast join,
    n_cells is tiny).
  - probe: a query searches only its cell (nprobe=1) or the top-p cells.
    Recall loss vs brute force is the standard IVF tradeoff and is measured
    by tests/test_similarity.py::test_ivf_recall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import cosine


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query row (cosine), excluding self-matches
    on id equality. Plan: broadcast the (small) query side, score every
    (query, vector) pair in one codegen'd projection, keep top-k per query
    with a window. At 100 TB the scoring pass is a single scan of the
    embedding table — no shuffle until the tiny top-k aggregation."""
    q = queries.select(F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv"))
    base = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    scored = base.join(F.broadcast(q), F.col("qid") != F.col("nid")).withColumn(
        "cos", F.round(cosine(F.col("qv"), F.col("nv")), 6)
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"), "cos", "rank")
    )


def ivf_centroids(emb: DataFrame, n_cells: int = 8, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse quantizer: first n_cells vectors by id. The
    oracle-parity quantizer (trivially SQL-expressible); production recall
    comes from ivf_centroids_kmeans below — both honor the same
    (cell, centroid) contract so every downstream plan is identical."""
    id_type = dict(emb.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"ivf_centroids(first-n) needs a numeric id column, got {id_col}:{id_type};"
            " use ivf_centroids_kmeans for arbitrary ids"
        )
    return emb.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid")
    )


def ivf_centroids_kmeans(
    emb: DataFrame,
    n_cells: int = 8,
    n_iter: int = 8,
    sample_n: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained coarse quantizer: spherical k-means (Lloyd) on a seeded
    hash-ordered sample. Same (cell, centroid) schema as ivf_centroids.

    Design for 10^12 vectors: training a coarse quantizer never needs the
    full table — the standard practice (e.g. FAISS's IVF training) fits
    centroids on a bounded sample. The sample is the `sample_n` rows with
    the smallest xxhash64(id, seed) — one TakeOrderedAndProject over the
    scan (no full sort, no extra pass), fully deterministic for a given
    (seed, table). Lloyd then runs driver-side in NumPy on ≤ sample_n×dim
    floats (a few MB even at sample_n=256k, dim=1k) — iterating on the
    cluster via joins would shuffle the whole table per iteration for no
    recall gain. Vectors are L2-normalized so euclidean Lloyd == spherical
    k-means, matching the cosine assignment metric; empty clusters are
    reseeded from the farthest points (deterministic order)."""
    import numpy as np

    rows = (
        emb.select(F.col(vec_col), F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(sample_n)
        .collect()
    )
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    if len(x) < n_cells:
        raise ValueError(f"sample ({len(x)}) smaller than n_cells ({n_cells})")
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    xn = x / np.where(norms == 0, 1.0, norms)
    cents = xn[:n_cells].copy()
    for _ in range(n_iter):
        sims = xn @ cents.T                        # cosine similarity
        assign = np.argmax(sims, axis=1)
        new = np.zeros_like(cents)
        # least-covered-point order for empty-cluster reseeds, consumed
        # one index per empty cluster — two cells going empty in the SAME
        # iteration previously both reseeded to the identical argmin
        # point and stayed duplicated forever (argmax ties break low, so
        # the higher cell re-emptied every iteration), silently shrinking
        # the effective quantizer (round-5 review; same fix as
        # pq_codebooks_kmeans's far_order)
        worst_order = iter(np.argsort(np.max(sims, axis=1)))
        for c in range(n_cells):
            members = xn[assign == c]
            if len(members) == 0:
                new[c] = xn[next(worst_order)]
                continue
            m = members.mean(axis=0)
            n_ = np.linalg.norm(m)
            new[c] = m / n_ if n_ > 0 else m
        if np.allclose(new, cents):
            break
        cents = new
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(int(c), [float(v) for v in cents[c]]) for c in range(n_cells)],
        "cell int, centroid array<double>",
    )


def _centroid_entries(centroids: DataFrame, vec_col: Column) -> Column:
    """Per-row array of (cell_cos, -cell, cell) structs, one per centroid.

    The centroid table is collected to the driver and inlined as literals —
    the same bytes a broadcast join would ship to every executor, but as
    part of the plan itself: cell scoring becomes a pure whole-stage-codegen
    projection with NO join node, NO n_cells× row inflation, and NO
    aggregation to undo it (the broadcast-join + max_by formulation rescans
    the fact side once per pass; this scans it once, total). Sound because a
    coarse quantizer is small by construction (n_cells ≤ a few thousand);
    the float64 cosine is the same zip_with/aggregate fold, so values are
    bit-identical to the join formulation and the DuckDB oracle."""
    rows = sorted((r[0], list(r[1])) for r in centroids.select("cell", "centroid").collect())
    return F.array(
        *[
            F.struct(
                F.round(cosine(vec_col, F.array(*[F.lit(float(x)) for x in vec])), 6).alias("cc"),
                F.lit(-cell).alias("nc"),
                F.lit(cell).alias("cell"),
            )
            for cell, vec in rows
        ]
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine; tie → lowest
    cell id — array_max over (cc, -cell) structs). One projection over the
    scan; zero shuffle, zero joins."""
    best = F.array_max(_centroid_entries(centroids, F.col(vec_col)))
    return emb.select(
        id_col,
        vec_col,
        best["cell"].alias("cell"),
        best["cc"].alias("cell_cos"),
    )


def ivf_assign_topp(
    emb: DataFrame,
    centroids: DataFrame,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-`probes` cells per vector (multi-probe assignment for recall):
    (id, cell, cell_cos, probe), `probes` rows per vector with probe = the
    0-based rank (probe 0 IS the top-1 assignment, so callers needing both
    the probe set and the primary cell read one scan, not two). sort+slice
    of the per-row centroid-score array, then a `probes`-wide explode —
    still a single scan-side projection, no shuffle."""
    top = F.slice(F.sort_array(_centroid_entries(centroids, F.col(vec_col)), asc=False), 1, probes)
    return (
        emb.select(id_col, F.posexplode(top).alias("probe", "t"))
        .select(id_col, F.col("t.cell").alias("cell"), F.col("t.cc").alias("cell_cos"), "probe")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: score only vectors in the query's top-`nprobe` cells.
    The candidate join becomes an equi-join on `cell` — at 10^12 vectors
    this is the difference between scanning the world per query and
    scanning nprobe/n_cells of it. Raising nprobe trades candidate volume
    for recall (tests/test_datapipe.py::test_ivf_nprobe_recall). Pass
    `centroids` (e.g. ivf_centroids_kmeans output) to override the
    deterministic first-n quantizer; the plan is identical either way."""
    cents = centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    assigned = ivf_assign(emb, cents, id_col, vec_col)
    q = queries.select(F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv"))
    # query-side top-nprobe cells via the same max_by passes (no window)
    q_cells = ivf_assign_topp(q, cents, probes=nprobe, id_col="qid", vec_col="qv")
    q_assigned = q.join(q_cells.select("qid", F.col("cell").alias("qcell")), "qid")
    cand = assigned.join(
        q_assigned,
        (F.col("cell") == F.col("qcell")) & (F.col(id_col) != F.col("qid")),
    ).withColumn("cos", F.round(cosine(F.col("qv"), F.col(vec_col)), 6))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


# ---------------------------------------------------------------------------
# embedding storage quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization for embedding storage: per-vector
    scale = max|x| / 127, q_i = round(x_i / scale) ∈ [-127, 127]. 4× smaller
    at-rest footprint for the ANN candidate stage (score int8, re-rank the
    shortlist at full precision). Pure array expressions; the per-vector
    max-abs reduction is a fold, not an aggregation — zero shuffle."""
    v = F.col(vec_col)
    max_abs = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    quant = F.transform(v, lambda x: F.round(x.cast("double") / scale, 0).cast("int"))
    return emb.select(
        id_col,
        scale.alias("q_scale"),
        quant.alias("q_vec"),
    )


# Oracle of tests/test_datapipe.py::test_quantize_dequantize_roundtrip.
def dequantize(q_vec: Column, q_scale: Column) -> Column:
    """Reconstruct approximate float vector: x̂_i = q_i * scale (max abs
    reconstruction error = scale/2)."""
    return F.transform(q_vec, lambda q: q.cast("double") * q_scale)


def cluster_balance(
    emb: DataFrame,
    cap: int,
    centroids: DataFrame | None = None,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "bal",
) -> DataFrame:
    """Cluster-balanced sampling for training-data mixture control: assign
    every embedding to its nearest coarse centroid (semantic cluster), then
    keep at most `cap` rows per cluster, chosen by a seeded hash rank —
    the semantic-dedup/balancing step of a pretraining pipeline (cap the
    over-represented clusters, keep the tail intact). Deterministic on
    every engine and rerun: rank = row_number over (h60(salt||id), id)
    within the cell, no RNG.

    Output: (id, cell int, bal_rank int) for the kept rows.

    Scale: cell assignment is the zero-join inlined-centroid projection
    (see _centroid_entries). The per-cell ranking is a window partitioned
    by cell — with a production coarse quantizer (thousands of cells from
    ivf_centroids_kmeans) each cell is a bounded partition; for the
    rate-based alternative that avoids per-cell ordering entirely (keep
    p_c of cell c by hash gate), compose ivf_assign with
    curation.mixture_sample(domain_col='cell').
    """
    from .textstats import h60

    cents = centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    assigned = ivf_assign(emb, cents, id_col, vec_col)
    key = h60(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    w = Window.partitionBy("cell").orderBy(key, F.col(id_col))
    return (
        assigned.select(
            id_col,
            F.col("cell").cast("int").alias("cell"),
            F.row_number().over(w).alias("bal_rank"),
        )
        .filter(F.col("bal_rank") <= cap)
    )


def mine_contrastive_pairs(
    emb: DataFrame,
    pos_threshold: float = 0.95,
    neg_floor: float = 0.5,
    k_negatives: int = 3,
    centroids: DataFrame | None = None,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mine (anchor, other) training pairs for contrastive embedding
    fine-tuning from the corpus itself: *positives* are same-cell pairs
    whose cosine ≥ `pos_threshold` (near-duplicates — two crawls of the
    same content make a natural positive pair), *hard negatives* are each
    anchor's top-`k_negatives` same-cell neighbors with cosine in
    [`neg_floor`, `pos_threshold`) — semantically close but NOT duplicates,
    exactly the negatives that teach a bi-encoder its decision boundary
    (the in-batch-negatives literature: only near-misses carry gradient).

    Output: (anchor_id, other_id, cos double, label 'pos'|'hard_neg',
    rank int) — rank 0 for positives, 1..k for negatives ordered by
    cosine desc. Directed: both (a,b) and (b,a) rows exist, so every
    anchor sees its full positive/negative set (what a per-anchor
    training batch consumes).

    Scale: candidate generation is the IVF-bucketed equi-join on `cell`
    (Σ|cell|² work, never n² — the same blocking as
    dedup.embedding_dup_pairs_bucketed); the only shuffle beyond the join
    is one per-anchor window for the negative top-k, which AQE reuses from
    the join's hash partitioning on the anchor side. Below-floor pairs are
    filtered BEFORE the window so the ranked set is candidates-only.
    """
    cents = centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    assigned = ivf_assign(emb, cents, id_col, vec_col)
    a = assigned.select(
        F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("_av"), F.col("cell").alias("_ac")
    )
    b = assigned.select(
        F.col(id_col).alias("other_id"), F.col(vec_col).alias("_bv"), F.col("cell").alias("_bc")
    )
    cand = (
        a.join(b, (F.col("_ac") == F.col("_bc")) & (F.col("anchor_id") != F.col("other_id")))
        .withColumn("cos", F.round(cosine(F.col("_av"), F.col("_bv")), 6))
        .filter(F.col("cos") >= F.lit(float(neg_floor)))
        .select("anchor_id", "other_id", "cos")
    )
    pos = cand.filter(F.col("cos") >= F.lit(float(pos_threshold))).select(
        "anchor_id", "other_id", "cos", F.lit("pos").alias("label"), F.lit(0).alias("rank")
    )
    negw = Window.partitionBy("anchor_id").orderBy(F.col("cos").desc(), F.col("other_id").asc())
    neg = (
        cand.filter(F.col("cos") < F.lit(float(pos_threshold)))
        .withColumn("rank", F.row_number().over(negw))
        .filter(F.col("rank") <= k_negatives)
        .select("anchor_id", "other_id", "cos", F.lit("hard_neg").alias("label"), "rank")
    )
    return pos.unionByName(neg)


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    top_k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    score_col: str = "rrf_score",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) over any number of
    per-query ranked lists — the standard hybrid-retrieval combiner
    (BM25 lexical + dense ANN) a RAG/data-mining pipeline runs: a
    candidate's fused score is Σ_lists 1/(k0 + rank), with k0=60 the
    canonical damping constant; candidates missing from a list simply
    contribute nothing (no rank imputation).

    Each list's contribution is quantized to decimal(19,9) before the
    sum so the fused score is order-independent and bit-equal across
    engines (the repo's float-determinism convention). Scale: inputs are
    already top-k-per-query (tiny relative to the corpus); the fusion is
    one union + one hash agg + one per-query window — cost O(queries ×
    k × lists), independent of corpus size.
    """
    from functools import reduce

    contribs = [
        r.select(
            F.col(query_col).alias("_q"),
            F.col(id_col).alias("_d"),
            F.round(F.lit(1.0) / (F.lit(k0) + F.col(rank_col)), 9)
            .cast("decimal(19,9)")
            .alias("_c"),
        )
        for r in rankings
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), contribs)
        .groupBy("_q", "_d")
        .agg(F.sum("_c").alias("_s"))
    )
    w = Window.partitionBy("_q").orderBy(F.col("_s").desc(), F.col("_d").asc())
    return (
        fused.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= top_k)
        .select(
            F.col("_q").alias(query_col),
            F.col("_d").alias(id_col),
            F.col("_s").cast("double").alias(score_col),
            rank_col,
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — the storage-compression ANN path
# ---------------------------------------------------------------------------
#
# PQ splits each dim-d vector into m subvectors and replaces every
# subvector with the id of its nearest codeword from a per-subspace
# codebook of k_codes entries (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public literature; the reference
# collector has no ANN, this extends our similarity family). A 64-dim
# float32 vector (256 B) becomes m=4 uint8 codes (4 B): a 64× scan-size
# cut, which at 10^12 vectors is the difference between scanning 256 TB
# and 4 TB for a candidate sweep. Search uses ADC (asymmetric distance):
# the query stays exact, each candidate's distance is approximated by
# summing per-subspace query→codeword distances from a precomputed
# m×k_codes lookup table — O(m) per candidate instead of O(dim).
#
# Cross-engine determinism: every squared-L2 is the sequential zip_with
# fold in double (same order as the DuckDB oracle's list_sum), then
# snapped to integer micro-units via floor(d*1e6 + 0.5) — ADC sums
# integers, so accumulation order can never flip a rank between engines.


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared euclidean distance in double."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _micro(d: Column) -> Column:
    """floor(d*1e6 + 0.5): half-up integer micro-units, identical in
    Spark, DuckDB, and a Python float loop (no banker's rounding)."""
    return F.floor(d * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint")


def pq_codebooks(
    emb: DataFrame,
    dim: int = 64,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic codebooks: codeword j of subspace s is subvector s of
    the table's vector with id j — the oracle-parity quantizer (same role
    as ivf_centroids' first-n rule). Schema: (subspace, code, codeword).
    Production recall comes from pq_codebooks_kmeans; both honor the same
    contract so every downstream plan is identical."""
    id_type = dict(emb.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"pq_codebooks(first-n) needs a numeric id column, got {id_col}:{id_type};"
            " use pq_codebooks_kmeans for arbitrary ids"
        )
    dsub = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("codeword"),
            )
            for s in range(m)
        ]
    )
    return (
        emb.filter(F.col(id_col) < k_codes)
        .select(F.col(id_col).cast("int").alias("code"), F.explode(subs).alias("e"))
        .select("e.subspace", "code", "e.codeword")
    )


def pq_codebooks_kmeans(
    emb: DataFrame,
    dim: int = 64,
    m: int = 4,
    k_codes: int = 16,
    n_iter: int = 10,
    sample_n: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained codebooks: per-subspace Lloyd k-means on a seeded
    hash-ordered sample (same bounded-sample rationale as
    ivf_centroids_kmeans — FAISS trains PQ exactly this way). Runs
    driver-side in NumPy on ≤ sample_n×dim floats; empty clusters reseed
    from the farthest points in deterministic order."""
    import numpy as np

    rows = (
        emb.select(F.col(vec_col), F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(sample_n)
        .collect()
    )
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    dsub = dim // m
    out = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        cent = xs[:k_codes].copy()
        for _ in range(n_iter):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            # farthest-point order for empty-cluster reseeds, consumed
            # one index per empty cluster so two empties in the same
            # iteration never collapse onto the same codeword
            far_order = iter(np.argsort(-d2.min(axis=1)))
            for j in range(k_codes):
                mask = assign == j
                if mask.any():
                    cent[j] = xs[mask].mean(axis=0)
                else:
                    cent[j] = xs[next(far_order)]
        out.extend(
            (s, j, [float(v) for v in cent[j]]) for j in range(k_codes)
        )
    return emb.sparkSession.createDataFrame(
        out, "subspace int, code int, codeword array<double>"
    )


def pq_encode(
    codebooks: DataFrame,
    emb: DataFrame,
    dim: int = 64,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-codeword ids. The codebook is
    tiny (m×k_codes×dsub floats) and inlines as literals, so assignment is
    ONE codegen projection over the scan — zero joins, zero shuffle, the
    same shape that makes ivf_assign scale. Ties break to the lowest code
    (argmin-first), matching the oracle's ORDER BY dist, code."""
    cb: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebooks.collect():
        cb.setdefault(r["subspace"], []).append((r["code"], list(r["codeword"])))
    dsub = dim // m
    code_cols = []
    for s in range(m):
        entries = sorted(cb[s])
        sub = F.slice(F.col(vec_col), s * dsub + 1, dsub)
        dists = F.array(
            *[
                _micro(_l2sq(sub, F.array(*[F.lit(float(v)) for v in cw])))
                for _code, cw in entries
            ]
        )
        code_cols.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return emb.select(F.col(id_col), F.array(*code_cols).alias("codes"))


# The ADC LUT loop below collects the QUERY SET to the driver — correct
# and standard for search-sized batches (FAISS builds per-query tables the
# same way), but catastrophic if a caller passes the corpus as its own
# query set (all-pairs-dedup style). The bound makes the contract explicit.
PQ_MAX_QUERIES = 10_000


def _adc_luts(
    queries: DataFrame,
    cb: dict[tuple[int, int], list[float]],
    dim: int,
    m: int,
    k_codes: int,
    query_id_col: str,
    vec_col: str,
    max_queries: int | None,
) -> list[tuple]:
    """Driver-built flat m×k_codes integer LUTs, one per query —
    bounded by ``max_queries`` (driver memory is m·k_codes ints per
    query; the guard keeps the collect a contract, not caller
    discipline). For corpus-sized query sets use the IVF cell join /
    MinHash dedup operators instead of ADC. ``max_queries=None``
    disables the guard — an explicit caller statement that the query
    set is known input-proportional (e.g. the fixture-scale registry
    parity queries), not an accident."""
    import math

    n_q = queries.count() if max_queries is not None else 0
    if max_queries is not None and n_q > max_queries:
        raise ValueError(
            f"ADC query set has {n_q} rows > max_queries={max_queries}; "
            "per-query LUTs are built on the driver. Raise max_queries "
            "deliberately, or use an equi-join operator (ivf/minhash) "
            "for corpus-scale query sets."
        )
    dsub = dim // m
    lut_rows = []
    for qr in queries.select(F.col(query_id_col), F.col(vec_col)).collect():
        qid, qv = qr[0], [float(v) for v in qr[1]]
        flat = []
        for s in range(m):
            qs = qv[s * dsub : (s + 1) * dsub]
            for c in range(k_codes):
                cw = cb[(s, c)]
                d = 0.0
                for i in range(dsub):
                    t = qs[i] - cw[i]
                    d += t * t
                flat.append(int(math.floor(d * 1_000_000.0 + 0.5)))
        lut_rows.append((qid, flat))
    return lut_rows


def pq_topk_adc(
    codes_df: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    m: int = 4,
    k_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    max_queries: int | None = PQ_MAX_QUERIES,
) -> DataFrame:
    """ADC top-k: per query, a flat m×k_codes integer LUT of
    query-subvector→codeword distances is built driver-side (a Python
    sequential-fold loop — bit-identical to the JVM fold) and broadcast;
    each candidate costs one O(m) integer gather-sum over its codes.
    Distances are exact-integer micro-units, so ranking is engine-stable;
    ties break to the lower neighbor id. The query set is driver-collected
    and bounded by ``max_queries`` (see :func:`_adc_luts`)."""
    cb: dict[tuple[int, int], list[float]] = {
        (r["subspace"], r["code"]): list(r["codeword"]) for r in codebooks.collect()
    }
    lut_rows = _adc_luts(queries, cb, dim, m, k_codes, query_id_col, vec_col, max_queries)
    lut_df = codes_df.sparkSession.createDataFrame(
        lut_rows, f"query_id {dict(queries.dtypes)[query_id_col]}, lut array<bigint>"
    )
    joined = codes_df.join(
        F.broadcast(lut_df), F.col("query_id") != F.col(id_col)
    ).withColumn(
        "adc_dist",
        F.aggregate(
            F.transform(
                F.col("codes"),
                lambda c, s: F.element_at(F.col("lut"), (s * k_codes + c + 1).cast("int")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adc_dist", "rank")
    )


def pq_topk_ivf_adc(
    emb: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    m: int = 4,
    k_codes: int = 16,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    max_queries: int | None = PQ_MAX_QUERIES,
) -> DataFrame:
    """IVF+PQ — the production ANN shape at 10^12 vectors (FAISS's
    IVFPQ): the coarse quantizer prunes candidates to the query's
    `nprobe` cells (candidate count ~ nprobe/n_cells of the corpus),
    then PQ-ADC scores only those candidates from their 4-byte codes —
    the scored scan touches codes + cell ids, never raw vectors. Both
    stages reuse the oracle-parity quantizers by default (first-n
    centroids, first-k codebooks); pass trained `centroids`/`codebooks`
    for production recall — the plan shape is identical.

    Plan: cell assignment and encoding are scan-side projections; the
    candidate restriction is ONE equi-join on the (tiny, broadcast)
    probe list; ADC distances are exact integers, so ranking is
    engine-stable. Shuffle = the window top-k only. The query set is
    driver-collected and bounded by ``max_queries`` (see
    :func:`_adc_luts`)."""
    cents = centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    cb = codebooks if codebooks is not None else pq_codebooks(emb, dim, m, k_codes, id_col, vec_col)
    codes = pq_encode(cb, emb, dim, m, id_col, vec_col)
    assign = ivf_assign(emb, cents, id_col, vec_col).select(id_col, "cell")
    pool = codes.join(assign, id_col)

    cbmap: dict[tuple[int, int], list[float]] = {
        (r["subspace"], r["code"]): list(r["codeword"]) for r in cb.collect()
    }
    probe = ivf_assign_topp(queries, cents, nprobe, query_id_col, vec_col).select(
        F.col(query_id_col).alias("query_id"), "cell"
    )
    lut_rows = _adc_luts(queries, cbmap, dim, m, k_codes, query_id_col, vec_col, max_queries)
    lut_df = emb.sparkSession.createDataFrame(
        lut_rows, f"query_id {dict(queries.dtypes)[query_id_col]}, lut array<bigint>"
    )
    probe_lut = probe.join(lut_df, "query_id")

    joined = pool.join(
        F.broadcast(probe_lut),
        (pool["cell"] == probe_lut["cell"]) & (probe_lut["query_id"] != pool[id_col]),
    ).withColumn(
        "adc_dist",
        F.aggregate(
            F.transform(
                F.col("codes"),
                lambda c, s: F.element_at(F.col("lut"), (s * k_codes + c + 1).cast("int")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adc_dist", "rank")
    )


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    k: int = 5,
) -> DataFrame:
    """ANN index quality: recall@k of an approximate top-k result set
    against the exact one — per query |approx ∩ exact| / k. THE
    acceptance metric for every IVF/PQ deployment decision (an index
    whose recall drifts under data growth needs retrained centroids).
    One equi-join on (query, neighbor) + one hash agg; both inputs are
    top-k frames (≤ k rows/query), so cost is negligible next to the
    searches themselves."""
    a = approx.select(F.col(query_col), F.col(neighbor_col))
    e = exact.select(F.col(query_col), F.col(neighbor_col))
    hits = a.join(e, [query_col, neighbor_col]).groupBy(query_col).agg(
        F.count(F.lit(1)).alias("_h")
    )
    return (
        e.select(query_col)
        .distinct()
        .join(hits, query_col, "left")
        .select(
            query_col,
            F.coalesce(F.col("_h"), F.lit(0)).cast("bigint").alias("hits"),
            F.round(F.coalesce(F.col("_h"), F.lit(0)) / k, 6).alias("recall_at_k"),
        )
    )
