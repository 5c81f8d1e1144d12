"""Property test: the optimized critical-path kernel (cursor-sorted children,
iterative walk — operators/trace_tree.py) must agree exactly with a literal
port of the reference recursion (critical_path.go:80-198, re-scanning every
child per return) on randomized span trees, including malformed intervals,
orphans, and ties. Runs against the kernel's per-batch step directly (no Spark session)
so hypothesis can afford hundreds of examples.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_contrib_spark.operators.trace_tree import _annotate


# --- literal port of the Go reference (naive O(n²) walk) -------------------


def _naive(ids, parents, starts, ends):
    nodes = {
        sid: {"id": sid, "start": starts[i], "end": ends[i], "parent": None, "children": []}
        for i, sid in enumerate(ids)
    }
    roots = []
    for i, sid in enumerate(ids):
        p = parents[i]
        node = nodes[sid]
        if p is None or p == "" or p not in nodes or p == sid:
            roots.append(node)
        else:
            nodes[p]["children"].append(node)
            node["parent"] = nodes[p]

    # sanitizeOverflowingChildren (critical_path.go:200)
    def sanitize(parent):
        kept = []
        for c in list(parent["children"]):
            if c["start"] >= parent["end"] or c["end"] <= parent["start"]:
                c["parent"] = None
                continue
            if c["start"] < parent["start"]:
                c["start"] = parent["start"]
            if c["end"] > parent["end"]:
                c["end"] = parent["end"]
            kept.append(c)
            sanitize(c)
        parent["children"] = kept

    for r in roots:
        sanitize(r)

    def last_finishing_child(cur, rcs):
        best = None
        for c in cur["children"]:
            if c["end"] <= c["start"]:
                continue
            if rcs is not None and c["end"] >= rcs:
                continue
            if best is None or (c["end"], c["start"], c["id"]) > (best["end"], best["start"], best["id"]):
                best = c
        return best

    sections = []

    def walk(cur, rcs):  # computeCriticalPathSections (critical_path.go:90)
        if cur is None or cur["end"] <= cur["start"]:
            return
        lfc = last_finishing_child(cur, rcs)
        section_end = cur["end"] if rcs is None else rcs
        if lfc is not None:
            if lfc["end"] < section_end:
                sections.append((cur["id"], lfc["end"], section_end))
            walk(lfc, None)
            return
        if cur["start"] < section_end:
            sections.append((cur["id"], cur["start"], section_end))
        if cur["parent"] is not None:
            walk(cur["parent"], cur["start"])

    roots.sort(key=lambda n: (n["end"], n["start"], n["id"]), reverse=True)
    for r in roots:
        walk(r, None)

    exclusive: dict = {}
    for sid, s, e in sections:
        if e > s:
            exclusive[sid] = exclusive.get(sid, 0) + (e - s)
    inclusive: dict = {}

    def acc(node):
        inc = exclusive.get(node["id"], 0)
        for c in node["children"]:
            inc += acc(c)
        inclusive[node["id"]] = inc
        return inc

    for r in roots:
        acc(r)
    out = {}
    for sid in ids:
        inc = inclusive.get(sid, 0)
        out[sid] = (True, exclusive.get(sid, 0), inc) if inc > 0 else (None, None, None)
    return out


# --- random trace generator -------------------------------------------------


@st.composite
def traces(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    ids = [f"s{i}" for i in range(n)]
    parents = []
    for i in range(n):
        choice = draw(st.integers(min_value=-2, max_value=max(i - 1, 0)))
        if choice == -2:
            parents.append("missing")  # orphan with a dangling parent id
        elif choice == -1 or i == 0:
            parents.append(None)  # explicit root
        else:
            parents.append(f"s{choice}")
    starts, ends = [], []
    for _ in range(n):
        a = draw(st.integers(min_value=0, max_value=60))
        b = draw(st.integers(min_value=0, max_value=60))
        starts.append(a)
        ends.append(b)  # may be invalid (end <= start) on purpose
    return ids, parents, starts, ends


@settings(max_examples=300, deadline=None)
@given(traces())
def test_kernel_matches_reference_recursion(trace):
    ids, parents, starts, ends = trace
    expected = _naive(ids, list(parents), list(starts), list(ends))

    batch = pa.RecordBatch.from_pydict(
        {
            "trace_id": ["t"] * len(ids),
            "span_id": ids,
            "parent_span_id": parents,
            "name": ids,
            "kind": ["client"] * len(ids),
            "start_ns": starts,
            "end_ns": ends,
        }
    )
    out = _annotate(batch, [0], ("critical_path",)).to_pylist()
    got = {
        r["span_id"]: (r["on_path"], r["exclusive_ns"], r["inclusive_ns"])
        for r in out
    }
    assert got == expected


# --- transactions: optimized kernel vs literal reference port ---------------


def _naive_transactions(ids, parents, names, kinds, starts):
    nodes = {sid: {"id": sid, "children": [], "start": starts[i], "name": names[i], "kind": kinds[i]}
             for i, sid in enumerate(ids)}
    roots, has_pid = [], {}
    for i, sid in enumerate(ids):
        p = parents[i]
        has_pid[sid] = p is not None and p != ""
        if p is None or p == "" or p not in nodes or p == sid:
            roots.append(nodes[sid])
        else:
            nodes[p]["children"].append(nodes[sid])
    if not roots:
        return {}
    explicit = fallback = None

    def better(cur, cand):
        return (cand["start"], cand["id"]) < (cur["start"], cur["id"])

    for r in roots:
        if fallback is None or better(fallback, r):
            fallback = r
        if not has_pid[r["id"]] and (explicit is None or better(explicit, r)):
            explicit = r
    root = explicit if explicit is not None else fallback
    out = {sid: (None, None) for sid in ids}
    out[root["id"]] = (root["name"], True)

    def walk(node, tx):  # trasactions.go:46, recursive as in Go
        for c in node["children"]:
            if c["kind"] in ("server", "consumer"):
                out[c["id"]] = (c["name"], True)
                walk(c, c["name"])
            else:
                out[c["id"]] = (tx, None)
                walk(c, tx)

    walk(root, root["name"])
    return out


@st.composite
def tx_traces(draw):
    n = draw(st.integers(min_value=1, max_value=16))
    ids = [f"s{i}" for i in range(n)]
    parents, kinds, starts = [], [], []
    for i in range(n):
        choice = draw(st.integers(min_value=-2, max_value=max(i - 1, 0)))
        if choice == -2:
            parents.append("missing")
        elif choice == -1 or i == 0:
            parents.append(None)
        else:
            parents.append(f"s{choice}")
        kinds.append(draw(st.sampled_from(["client", "server", "consumer", "internal"])))
        starts.append(draw(st.integers(min_value=0, max_value=20)))
    return ids, parents, kinds, starts


@settings(max_examples=300, deadline=None)
@given(tx_traces())
def test_transactions_kernel_matches_reference(trace):
    ids, parents, kinds, starts = trace
    names = [f"op-{i}" for i in range(len(ids))]
    expected = _naive_transactions(ids, parents, names, kinds, starts)

    batch = pa.RecordBatch.from_pydict(
        {
            "trace_id": ["t"] * len(ids),
            "span_id": ids,
            "parent_span_id": parents,
            "name": names,
            "kind": kinds,
            "start_ns": starts,
            "end_ns": [s + 1 for s in starts],
        }
    )
    out = _annotate(batch, [0], ("transactions",)).to_pylist()
    got = {r["span_id"]: (r["transaction"], r["transaction_root"]) for r in out}
    assert got == expected
