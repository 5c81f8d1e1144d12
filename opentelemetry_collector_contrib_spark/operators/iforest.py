"""Isolation-forest anomaly scoring — the real algorithm, Spark-first.

Reference: processor/isolationforestprocessor/isolation_forest.go. Its
online variant keeps a sliding window of recent samples and rebuilds
per-stream trees incrementally; scoring is Liu et al.'s
``score = 2^(-avgPathLength / c(n))`` with the harmonic-number
remaining-path estimate at leaves (isolation_forest.go:491-560) and
``score > threshold`` flagging (processor.go:227-266).

Batch mapping: the sliding window becomes a bounded, deterministic
reference sample; trees are trained DRIVER-SIDE on that sample (a few KB
of model) and compiled into pure columnar expressions — each tree is one
nested CASE, the forest is their average, the score one ``pow``. Scoring
therefore runs at scan speed inside whole-stage codegen: zero joins, zero
shuffles, zero UDFs, and the identical CASE tree renders to ANSI SQL so a
second engine reproduces every verdict bit-for-bit (the oracle contract).

Determinism: training uses ``random.Random(seed)`` (spec-fixed Mersenne
Twister) over an explicit sample list — same seed + same sample bytes →
same forest on every platform, every rerun. No RNG at scoring time.

Scale notes (10^12 rows): the model is O(trees × 2^depth) nodes built
once on the driver from a ψ·trees-row sample — independent of table
size; scoring is a projection, so it rides whatever scan/shuffle the
surrounding pipeline already does. This mirrors how the reference trains
on a bounded window, never the full stream.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EULER_GAMMA = 0.5772156649  # the constant the reference embeds


def c_factor(n: int) -> float:
    """Expected remaining path length for a leaf holding n samples
    (estimateRemainingPath, isolation_forest.go:513-520 — the harmonic
    approximation 2(ln(n-1)+γ) − 2(n-1)/n, 0 for n ≤ 1)."""
    if n <= 1:
        return 0.0
    return 2.0 * (math.log(n - 1) + _EULER_GAMMA) - (2.0 * (n - 1) / n)


@dataclass(frozen=True)
class _Node:
    """Internal split: feature index, split value, children."""
    feature: int
    value: float
    left: "_Node | _Leaf"
    right: "_Node | _Leaf"


@dataclass(frozen=True)
class _Leaf:
    """Terminal node: depth + c(samples) is the path length contribution."""
    path_length: float


@dataclass(frozen=True)
class IsolationForest:
    trees: tuple[_Node | _Leaf, ...]
    expected_path: float  # c(ψ) normalizer
    n_features: int


def _build_tree(
    data: list[list[float]], depth: int, limit: int, rng: random.Random
) -> _Node | _Leaf:
    n = len(data)
    if depth >= limit or n <= 1:
        return _Leaf(path_length=float(depth) + c_factor(n))
    d = len(data[0])
    splittable = []
    for f in range(d):
        vals = [row[f] for row in data]
        if min(vals) < max(vals):
            splittable.append((f, min(vals), max(vals)))
    if not splittable:
        return _Leaf(path_length=float(depth) + c_factor(n))
    f, lo, hi = splittable[rng.randrange(len(splittable))]
    v = rng.uniform(lo, hi)
    left = [row for row in data if row[f] < v]
    right = [row for row in data if row[f] >= v]
    if not left or not right:  # uniform() can land exactly on lo
        return _Leaf(path_length=float(depth) + c_factor(n))
    return _Node(
        feature=f,
        value=v,
        left=_build_tree(left, depth + 1, limit, rng),
        right=_build_tree(right, depth + 1, limit, rng),
    )


def train_isolation_forest(
    samples: list[list[float]],
    num_trees: int = 15,
    sample_size: int = 64,
    seed: int = 42,
    max_depth: int | None = None,
) -> IsolationForest:
    """Offline iForest training (Liu et al. 2008; the reference's window
    rebuild collapses to this when the window is a fixed sample): each
    tree grows on a seeded ψ-subsample with random (feature, value-in-
    range) splits to depth ceil(log2 ψ)."""
    if not samples:
        raise ValueError("isolation forest needs a non-empty training sample")
    widths = {len(s) for s in samples}
    if len(widths) != 1:
        raise ValueError(f"inconsistent feature widths in sample: {sorted(widths)}")
    psi = min(sample_size, len(samples))
    limit = max_depth if max_depth is not None else math.ceil(math.log2(max(psi, 2)))
    trees = []
    for t in range(num_trees):
        rng = random.Random(seed + t)
        sub = rng.sample(samples, psi)
        trees.append(_build_tree(sub, 0, limit, rng))
    return IsolationForest(
        trees=tuple(trees), expected_path=max(c_factor(psi), 1e-12),
        n_features=widths.pop(),
    )


# ---------------------------------------------------------------------------
# model → expression compilers (Spark Column and ANSI SQL from one tree)
# ---------------------------------------------------------------------------


def _tree_col(node: _Node | _Leaf, feats: list[Column]) -> Column:
    if isinstance(node, _Leaf):
        return F.lit(node.path_length)
    # NULL feature: the comparison is NULL → otherwise() → right child,
    # identical to SQL CASE falling to ELSE — both engines agree
    return F.when(
        feats[node.feature] < F.lit(node.value), _tree_col(node.left, feats)
    ).otherwise(_tree_col(node.right, feats))


def _tree_sql(node: _Node | _Leaf, feats: list[str]) -> str:
    if isinstance(node, _Leaf):
        # explicit DOUBLE: engines that read bare float literals as
        # DECIMAL overflow when summing many trees
        return f"CAST({node.path_length!r} AS DOUBLE)"
    return (
        f"CASE WHEN {feats[node.feature]} < {node.value!r} "
        f"THEN {_tree_sql(node.left, feats)} ELSE {_tree_sql(node.right, feats)} END"
    )


# Oracle of tests/test_iforest.py::test_compiled_column_matches_python_traversal.
def path_length_py(node: _Node | _Leaf, row: list[float]) -> float:
    """Pure-Python traversal (the reference's traverseNode) — the test
    oracle for the compiled expressions."""
    while isinstance(node, _Node):
        node = node.left if row[node.feature] < node.value else node.right
    return node.path_length


def score_column(forest: IsolationForest, feats: list[Column]) -> Column:
    """Anomaly score 2^(-avgPath/c(ψ)) as one codegen expression
    (calculateAnomalyScore, isolation_forest.go:232-268), rounded to 6
    for cross-engine hashing."""
    total = _tree_col(forest.trees[0], feats)
    for t in forest.trees[1:]:
        total = total + _tree_col(t, feats)
    avg = total / F.lit(float(len(forest.trees)))
    return F.round(F.pow(F.lit(2.0), -avg / F.lit(forest.expected_path)), 6)


def score_sql(forest: IsolationForest, feats: list[str]) -> str:
    """The same score as an ANSI SQL scalar over `feats` expressions."""
    total = " + ".join(f"({_tree_sql(t, feats)})" for t in forest.trees)
    n = float(len(forest.trees))
    return (
        f"round(power(2.0, -(({total}) / {n!r}) / {forest.expected_path!r}), 6)"
    )


def isolation_forest_score(
    df: DataFrame,
    feature_cols: list[str],
    forest: IsolationForest,
    threshold: float = 0.6,
    score_col: str = "if_score",
    flag_col: str = "is_anomaly",
) -> DataFrame:
    """Score every row against a trained forest: one projection, flag =
    score > threshold (the processor's fixed-threshold mode; its adaptive
    threshold is a windowed quantile of this same score)."""
    if len(feature_cols) != forest.n_features:
        raise ValueError(
            f"forest was trained on {forest.n_features} features, got {len(feature_cols)}"
        )
    feats = [F.col(c).cast("double") for c in feature_cols]
    s = score_column(forest, feats)
    return df.select("*", s.alias(score_col)).withColumn(
        flag_col, F.col(score_col) > threshold
    )


def sample_features_from_parquet(
    path: str, exprs: list[str], limit: int = 4096, order_by: str | None = None
) -> list[list[float]]:
    """Engine-neutral training-sample reader: evaluates `exprs` with
    DuckDB over a parquet file and returns the first `limit` rows in a
    deterministic order. Used by the registry so the QUERY side (Spark)
    and the ORACLE side (SQL) train the IDENTICAL model from the same
    bytes — the batch analogue of the reference's shared sliding window."""
    import duckdb

    ob = f"ORDER BY {order_by}" if order_by else ""
    q = f"SELECT {', '.join(exprs)} FROM read_parquet('{path}') {ob} LIMIT {limit}"
    rows = duckdb.connect().execute(q).fetchall()
    return [[float(v) for v in r] for r in rows]
