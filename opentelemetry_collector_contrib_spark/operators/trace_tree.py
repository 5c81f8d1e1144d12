"""Per-trace span-tree operators (coralogixprocessor analogue).

The reference's coralogixprocessor (processor/coralogixprocessor/span.go:42)
groups spans by trace id, builds a parent/child tree
(internal/traceutil/tree.go:24) and applies two features:

* transactions (internal/transactions/trasactions.go:23) — pick the
  transaction root span, stamp the root's name on every span reachable from
  it, opening a NEW transaction at server/consumer-kind spans;
* critical path (internal/criticalpath/critical_path.go:38) — the CRISP-style
  end-to-end latency walk: sanitize child intervals to their parent, descend
  through the last-finishing child, and attribute exclusive/inclusive
  critical-path nanoseconds to each span.

Both are path-dependent tree walks, so they need per-trace imperative logic.
Spark shape: the grouped Arrow kernel (`_groups.group_kernel`) — ONE hash
repartition on the trace key + sortWithinPartitions (traces contiguous),
then `mapInArrow`: one Python call per PARTITION, not per trace, holding
back only the trace that straddles an Arrow batch boundary. Input columns
pass through as Arrow arrays, so an int64 next to a NULL keeps every digit.
Per-trace work is index-based (integer arrays, no per-span dicts) and
O(spans·log spans). Trace sizes bound memory exactly like groupbytrace.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame

from ._groups import bounds, group_kernel, pylist


# ---------------------------------------------------------------------------
# per-trace tree construction (tree.go:24 BuildTraceTree), index-based
# ---------------------------------------------------------------------------


def _build_tree(ids, parents):
    """Returns (parent_idx, children, roots, has_parent_id) over row indices.
    A span whose parent id is empty/None, absent from the trace, or itself
    becomes a root (tree.go:37-44)."""
    idx = {}
    for i, sid in enumerate(ids):
        idx[sid] = i
    n = len(ids)
    parent_idx = [-1] * n
    children = [[] for _ in range(n)]
    roots = []
    has_parent_id = [False] * n
    for i in range(n):
        p = parents[i]
        if p is None or p == "":
            roots.append(i)
            continue
        has_parent_id[i] = True
        j = idx.get(p, -1)
        if j < 0 or j == i:
            roots.append(i)
            continue
        parent_idx[i] = j
        children[j].append(i)
    return parent_idx, children, roots, has_parent_id


# ---------------------------------------------------------------------------
# transactions (trasactions.go, span_tree.go)
# ---------------------------------------------------------------------------


def _transactions_trace(ids, parents, names, kinds, starts, tx, is_root, base):
    """Fill tx/is_root output slices for one trace (rows base..base+n)."""
    n = len(ids)
    if n == 0:
        return
    _, children, roots, has_parent_id = _build_tree(ids, parents)

    # span_tree.go:35 selectTransactionRoot: prefer an explicit root (empty
    # parent id); ties by earliest start then smallest span id string.
    explicit = fallback = -1
    for r in roots:
        if fallback < 0 or (starts[r], ids[r]) < (starts[fallback], ids[fallback]):
            fallback = r
        if not has_parent_id[r] and (
            explicit < 0 or (starts[r], ids[r]) < (starts[explicit], ids[explicit])
        ):
            explicit = r
    root = explicit if explicit >= 0 else fallback
    if root < 0:
        return

    # trasactions.go:46 applyTransactionToTrace, iterative DFS: server/
    # consumer-kind children open a new transaction.
    tx[base + root] = names[root]
    is_root[base + root] = True
    stack = [(root, names[root])]
    while stack:
        node, current = stack.pop()
        for c in children[node]:
            if kinds[c] in ("server", "consumer"):
                tx[base + c] = names[c]
                is_root[base + c] = True
                stack.append((c, names[c]))
            else:
                tx[base + c] = current
                stack.append((c, current))


# ---------------------------------------------------------------------------
# critical path (critical_path.go)
# ---------------------------------------------------------------------------


def _critical_path_trace(ids, parents, starts, ends, on_path, excl_out, incl_out, base):
    """Fill on_path/exclusive/inclusive output slices for one trace."""
    n = len(ids)
    if n == 0:
        return
    starts = list(starts)  # sanitize mutates intervals
    ends = list(ends)
    parent_idx, children, roots, _ = _build_tree(ids, parents)

    # critical_path.go:200 sanitizeOverflowingChildren: drop children disjoint
    # from their parent (subtree unreachable), clip overlapping children.
    for r in roots:
        stack = [r]
        while stack:
            p = stack.pop()
            kept = []
            for c in children[p]:
                if starts[c] >= ends[p] or ends[c] <= starts[p]:
                    parent_idx[c] = -1
                    continue
                if starts[c] < starts[p]:
                    starts[c] = starts[p]
                if ends[c] > ends[p]:
                    ends[c] = ends[p]
                kept.append(c)
                stack.append(c)
            children[p] = kept

    # Valid children end-desc-sorted with an advancing cursor. The Go walk
    # re-scans every child on each return to the parent — O(n²) on a flat
    # trace; every return here carries a strictly smaller section end (the
    # next descended child must finish before the previous one started), so
    # the cursor never rewinds and the walk is O(n log n) per trace.
    sorted_children = [None] * n
    cursor = [0] * n

    def last_finishing_child(node, rcs):
        sc = sorted_children[node]
        if sc is None:
            sc = sorted(
                (c for c in children[node] if ends[c] > starts[c]),
                key=lambda c: (ends[c], starts[c], ids[c]),
                reverse=True,
            )
            sorted_children[node] = sc
        i = cursor[node]
        if rcs is not None:
            while i < len(sc) and ends[sc[i]] >= rcs:
                i += 1
            cursor[node] = i
        return sc[i] if i < len(sc) else -1

    exclusive = [0] * n
    roots.sort(key=lambda r: (ends[r], starts[r], ids[r]), reverse=True)
    for r in roots:
        # critical_path.go:90 computeCriticalPathSections — the Go version is
        # a linear recursion (one tail call per frame); unrolled to a loop so
        # 4096-deep chains can't blow the Python stack.
        if ends[r] <= starts[r]:
            continue
        current, rcs = r, None
        while True:
            lfc = last_finishing_child(current, rcs)
            section_end = ends[current] if rcs is None else rcs
            if lfc >= 0:
                if ends[lfc] < section_end:
                    exclusive[current] += section_end - ends[lfc]
                current, rcs = lfc, None
                continue
            if starts[current] < section_end:
                exclusive[current] += section_end - starts[current]
            if parent_idx[current] >= 0:
                rcs = starts[current]
                current = parent_idx[current]
                continue
            break

    # critical_path.go:156 inclusive = exclusive + Σ children inclusive,
    # post-order over each reachable subtree (iterative).
    inclusive = [0] * n
    for r in roots:
        order, stack = [], [r]
        while stack:
            v = stack.pop()
            order.append(v)
            stack.extend(children[v])
        for v in reversed(order):
            inc = exclusive[v]
            for c in children[v]:
                inc += inclusive[c]
            inclusive[v] = inc
        # critical_path.go:259 annotateSpans: only inclusive>0 gets attrs
        for v in order:
            if inclusive[v] > 0:
                on_path[base + v] = True
                excl_out[base + v] = exclusive[v]
                incl_out[base + v] = inclusive[v]


# ---------------------------------------------------------------------------
# per-batch step of the grouped kernel: contiguous traces -> per-trace slices
# ---------------------------------------------------------------------------


def _annotate(batch, group_starts, features):
    """The input batch plus the feature columns, one trace per group. A
    NULL start/end reads as NaN, so every comparison with it is false."""
    n = batch.num_rows
    ids = pylist(batch.column("span_id"))
    parents = pylist(batch.column("parent_span_id"))
    starts = pylist(batch.column("start_ns"), math.nan)
    extra = {}
    if "transactions" in features:
        names = pylist(batch.column("name"))
        kinds = pylist(batch.column("kind"))
        tx, is_root = [None] * n, [None] * n
        for lo, hi in bounds(group_starts, n):
            _transactions_trace(
                ids[lo:hi], parents[lo:hi], names[lo:hi], kinds[lo:hi],
                starts[lo:hi], tx, is_root, lo,
            )
        extra.update(transaction=pa.array(tx, pa.string()), transaction_root=pa.array(is_root, pa.bool_()))
    if "critical_path" in features:
        ends = pylist(batch.column("end_ns"), math.nan)
        on_path, excl, incl = [None] * n, [None] * n, [None] * n
        for lo, hi in bounds(group_starts, n):
            _critical_path_trace(
                ids[lo:hi], parents[lo:hi], starts[lo:hi], ends[lo:hi],
                on_path, excl, incl, lo,
            )
        extra.update(
            on_path=pa.array(on_path, pa.bool_()),
            exclusive_ns=pa.array(excl, pa.int64(), from_pandas=True),
            inclusive_ns=pa.array(incl, pa.int64(), from_pandas=True),
        )
    return pa.RecordBatch.from_arrays(
        [*batch.columns, *extra.values()], names=[*batch.schema.names, *extra]
    )


_TX_COLS = ", transaction string, transaction_root boolean"
_CP_COLS = ", on_path boolean, exclusive_ns bigint, inclusive_ns bigint"


def _run(df: DataFrame, trace_col: str, features: tuple, extra_schema: str) -> DataFrame:
    schema = ", ".join(f.name + " " + f.dataType.simpleString() for f in df.schema.fields)
    return group_kernel(
        df, [trace_col], [], schema + extra_schema,
        lambda batch, starts: _annotate(batch, starts, features),
    )


def transaction_attributes(df: DataFrame, trace_col: str = "trace_id") -> DataFrame:
    """coralogix transactions feature.

    Input needs columns (trace_col, span_id, parent_span_id, name, kind,
    start_ns, end_ns). Output = input + `transaction` (string, null for
    spans not reachable from the selected root — orphan subtrees get no
    attribute, matching the reference which only walks the selected root)
    and `transaction_root` (true on transaction roots, null elsewhere)."""
    return _run(df, trace_col, ("transactions",), _TX_COLS)


def critical_path(df: DataFrame, trace_col: str = "trace_id") -> DataFrame:
    """CRISP critical-path attribution per trace.

    Output = input + on_path (true / null), exclusive_ns, inclusive_ns
    (nanoseconds on the critical path owned directly / including
    descendants; null when the span never touches the path, mirroring
    attribute absence in the reference)."""
    return _run(df, trace_col, ("critical_path",), _CP_COLS)


def transactions_and_critical_path(df: DataFrame, trace_col: str = "trace_id") -> DataFrame:
    """Both features in ONE pass (span.go:51's combined branch):
    a single repartition on trace_id instead of two."""
    return _run(df, trace_col, ("transactions", "critical_path"), _TX_COLS + _CP_COLS)
