"""spanpruningprocessor analogue — aggregate similar leaf spans per trace.

The reference (processor/spanpruningprocessor/) groups a trace's LEAF spans
by (parent name, tree depth, span name, kind, status, trace state, glob-
selected attributes), replaces every group of >= min_spans_to_aggregate with
ONE summary span carrying count/min/max/total/avg duration stats (and an
optional cumulative duration histogram), then recursively aggregates parents
whose children were all aggregated (processor.go:488-554 planCandidateGroups,
aggregation.go:84-250 executeAggregations). Optional duration-outlier
analysis (IQR or MAD, outlier.go:37-213) annotates the summary with the
median and attribute correlations, and can PRESERVE each outlier's whole
subtree instead of aggregating it (processor.go:415-478).

Spark shape: the algorithm is a per-trace tree walk, so like trace_tree.py
it runs on the grouped Arrow kernel (`_groups.py`): ONE hash repartition on
trace_id + sortWithinPartitions, then one mapInArrow call per partition.
Per-trace work is O(spans * tree height); trace size bounds memory exactly
like groupbytrace. At 100 TB this is a single shuffle keyed
on trace_id — the same partitioning the groupbytrace/tailsampling family
already uses, so span_pruning composes with them shuffle-free.

Determinism differences vs the reference (documented, content-preserving):
* summary span ids are md5(trace_id|group_key)[:16] instead of random —
  the reference only needs uniqueness (aggregation.go:54-59); deterministic
  ids make the operator oracle-checkable;
* group execution ties (same depth) are ordered by group key; the reference
  iterates a Go map (random order), and output content is order-independent.

Glob matching for group_by_attributes uses fnmatch ('db.*', 'http.?'
et al.), matching the gobwas/glob subset the reference README documents.
"""

from __future__ import annotations

import fnmatch
import hashlib
import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._groups import arrow_schema, bounds, group_kernel, pylist, rows_to_batch

_MAD_SCALE = 1.4826  # outlier.go:156 madScaleFactor

_DEF_OUTLIER = {
    "method": "iqr",
    "iqr_multiplier": 1.5,
    "mad_multiplier": 3.0,
    "min_group_size": 7,
    "min_outlier_threshold_percent": 0.1,
    "preserve_outliers": False,
    "max_preserved_outliers": 2,
    "preserve_only_with_correlation": False,
    "correlation_min_occurrence": 0.75,
    "correlation_max_normal_occurrence": 0.25,
    "max_correlated_attributes": 5,
}


# ---------------------------------------------------------------------------
# per-trace kernel (pure python over column lists)
# ---------------------------------------------------------------------------


def _tree(ids, parent_ids):
    """parent_idx/children/is_leaf over row indices (tree.go:41-113):
    empty parent -> root; parent missing from trace -> orphan (depth 0)."""
    idx = {sid: i for i, sid in enumerate(ids)}
    n = len(ids)
    parent_idx = [-1] * n
    children = [[] for _ in range(n)]
    for i in range(n):
        p = parent_ids[i]
        if p is None or p == "":
            continue
        j = idx.get(p, -1)
        if j >= 0 and j != i:
            parent_idx[i] = j
            children[j].append(i)
    is_leaf = [len(children[i]) == 0 for i in range(n)]
    return parent_idx, children, is_leaf


def _depth(i, parent_idx):
    d = 0
    while parent_idx[i] >= 0:
        i = parent_idx[i]
        d += 1
    return d


def _subtree(root, children):
    nodes = [root]
    k = 0
    while k < len(nodes):
        nodes.extend(children[nodes[k]])
        k += 1
    return nodes


def _go_median(sorted_vals):
    """Go duration median (outlier.go:124-130): middle for odd, (a+b)/2
    integer division for even. Values are non-negative ns ints."""
    n = len(sorted_vals)
    if n % 2 == 1:
        return sorted_vals[n // 2]
    return (sorted_vals[n // 2 - 1] + sorted_vals[n // 2]) // 2


def _detect_outliers(durs, cfg):
    """(outlier_pos, normal_pos, median) over positions in `durs`
    (outlier.go:120-213). IQR: q1/q3 by INDEX (n/4, 3n/4) on the sorted
    list; thresholds truncate float->int like Go's time.Duration casts."""
    order = sorted(range(len(durs)), key=lambda p: durs[p])
    sd = [durs[p] for p in order]
    n = len(sd)
    median = _go_median(sd)
    if cfg["method"] == "mad":
        devs = sorted(abs(d - median) for d in sd)
        mad = _go_median(devs)
        statistical = median + int(cfg["mad_multiplier"] * _MAD_SCALE * float(mad))
    else:
        q1, q3 = sd[n // 4], sd[3 * n // 4]
        statistical = q3 + int(float(q3 - q1) * cfg["iqr_multiplier"])
    # single-rounded multiplier (1.0 + pct) so an external oracle can inline
    # the exact double via repr()
    minimum = int(float(median) * float(1.0 + cfg["min_outlier_threshold_percent"]))
    upper = max(statistical, minimum)
    outliers = [p for p in range(n) if durs[p] > upper]
    normals = [p for p in range(n) if durs[p] <= upper]
    # most extreme first (outlier.go:75-80)
    outliers.sort(key=lambda p: -durs[p])
    return outliers, normals, median


def _find_correlations(attr_rows, outlier_pos, normal_pos, cfg):
    """[(key, value, out_occ, norm_occ)] sorted by score desc then key
    (outlier.go:215-276)."""
    def counts(positions):
        c = {}
        for p in positions:
            for k, v in (attr_rows[p] or {}).items():
                c.setdefault(k, {})
                c[k][v] = c[k].get(v, 0) + 1
        return c

    oc, nc = counts(outlier_pos), counts(normal_pos)
    n_out, n_norm = float(len(outlier_pos)), float(len(normal_pos))
    out = []
    for key in oc:
        for value, cnt in oc[key].items():
            o_occ = cnt / n_out
            if o_occ < cfg["correlation_min_occurrence"]:
                continue
            nrm = nc.get(key, {}).get(value, 0) / n_norm
            if nrm > cfg["correlation_max_normal_occurrence"]:
                continue
            out.append((key, value, o_occ, nrm))
    out.sort(key=lambda c: (-(c[2] - c[3]), c[0]))
    return out[: cfg["max_correlated_attributes"]]


def _format_correlations(correlations):
    # outlier.go:293-310 "key=value(outlier%/normal%)" with %.0f rounding
    return ", ".join(
        "%s=%s(%.0f%%/%.0f%%)" % (k, v, o * 100, nm * 100) for k, v, o, nm in correlations
    )


def _attribute_loss(attr_rows, positions, template_pos):
    """(diverse, missing) each as [(key, lost_count)] sorted by count desc
    then key (attribute_loss.go:41-112)."""
    if len(positions) < 2:
        return [], []
    values, presence = {}, {}
    for p in positions:
        for k, v in (attr_rows[p] or {}).items():
            values.setdefault(k, set()).add(v)
            presence[k] = presence.get(k, 0) + 1
    template_attrs = attr_rows[template_pos] or {}
    diverse, missing = [], []
    for key, vals in values.items():
        uniq = len(vals)
        if presence[key] < len(positions):
            lost = uniq - 1 if key in template_attrs else uniq
            if lost > 0:
                missing.append((key, lost))
        elif uniq > 1:
            diverse.append((key, uniq - 1))
    srt = lambda s: sorted(s, key=lambda a: (-a[1], a[0]))  # noqa: E731
    return srt(diverse), srt(missing)


def _format_cardinality(attrs):
    # attribute_loss.go:119-146 "key(count),..." capped at 10 entries
    if not attrs:
        return None
    shown = attrs[:10]
    s = ",".join(f"{k}({c})" for k, c in shown)
    return s + ",..." if len(attrs) > 10 else s


def _prune_trace(cols, cfg):
    """Run the 3-phase algorithm on one trace; returns output row dicts."""
    ids = cols["span_id"]
    n = len(ids)
    parent_ids = cols["parent_span_id"]
    names, kinds, statuses = cols["name"], cols["kind"], cols["status"]
    tstates = cols.get("trace_state") or [""] * n
    starts, ends = cols["start_ns"], cols["end_ns"]
    # Arrow hands MapType to Python as a list of (k, v) tuples — normalize
    attrs = [dict(a or ()) for a in cols["attrs"]]
    cols = dict(cols, attrs=attrs)
    trace_id = cols["trace_id"][0]

    def passthrough():
        return [_orig_row(cols, i) for i in range(n)]

    if cfg["has_condition"] and not any(cols["_match"]):
        return passthrough()

    parent_idx, children, is_leaf = _tree(ids, parent_ids)
    durs = [ends[i] - starts[i] for i in range(n)]
    order_key = lambda i: (starts[i], ids[i])  # noqa: E731  (nodeOrderLess)

    def base_key(i):
        parts = [names[i] or "", "|kind=", kinds[i] or "", "|status=", statuses[i] or "",
                 "|ts=", tstates[i] or ""]
        a = attrs[i] or {}
        for k in sorted(k for k in a if any(p.match(k) for p in cfg["patterns"])):
            parts += ["|", k, "=Str:", a[k]]
        return "".join(parts)

    def leaf_key(i):
        if parent_idx[i] >= 0:
            return f"parent={names[parent_idx[i]]}|depth={_depth(i, parent_idx)}|" + base_key(i)
        return base_key(i)

    def parent_key(i):
        return (f"{_depth(i, parent_idx)}|{names[i]}|kind={kinds[i]}"
                f"|status={statuses[i]}|ts={tstates[i] or ''}")

    # --- phase 1a: plan candidate groups bottom-up (processor.go:488-554)
    leaves = sorted((i for i in range(n) if is_leaf[i]), key=order_key)
    leaf_groups = {}
    for i in leaves:
        leaf_groups.setdefault(leaf_key(i), []).append(i)
    groups = []  # (key, agg_depth, [idx])
    would = set()
    marked_now = []
    for key in sorted(leaf_groups):
        nodes = leaf_groups[key]
        if len(nodes) < cfg["min_spans"]:
            continue
        groups.append((key, 0, nodes))
        would.update(nodes)
        marked_now.extend(nodes)

    if cfg["max_parent_depth"] != 0 and marked_now:
        candidates = sorted({parent_idx[i] for i in marked_now if parent_idx[i] >= 0})
        agg_depth = 1
        while candidates:
            if cfg["max_parent_depth"] > 0 and agg_depth > cfg["max_parent_depth"]:
                break
            eligible = [
                i for i in candidates
                if not is_leaf[i] and parent_idx[i] >= 0 and i not in would
                and all(c in would for c in children[i])
            ]
            if not eligible:
                break
            pgroups = {}
            for i in eligible:
                pgroups.setdefault(parent_key(i), []).append(i)
            marked_now = []
            for key in sorted(pgroups):
                nodes = sorted(pgroups[key], key=order_key)
                if len(nodes) < 2:
                    continue
                groups.append((key, agg_depth, nodes))
                would.update(nodes)
                marked_now.extend(nodes)
            if not marked_now:
                break
            candidates = sorted({parent_idx[i] for i in marked_now if parent_idx[i] >= 0})
            agg_depth += 1

    if not groups:
        return passthrough()

    # --- phase 1b: outlier detection + subtree protection (processor.go:415-478)
    ocfg = cfg["outlier"]
    protected, preserved_flag = set(), set()
    outlier_result, preserved_roots = {}, {}
    if ocfg is not None:
        ordered = sorted(groups, key=lambda g: _depth(g[2][0], parent_idx))
        for key, _d, nodes in ordered:
            if len(nodes) < ocfg["min_group_size"]:
                continue
            gd = [durs[i] for i in nodes]
            out_pos, norm_pos, median = _detect_outliers(gd, ocfg)
            gattrs = [attrs[i] for i in nodes]
            corr = (
                _find_correlations(gattrs, out_pos, norm_pos, ocfg)
                if out_pos and norm_pos else []
            )
            outlier_result[key] = {"median": median, "correlations": corr,
                                   "has": bool(out_pos)}
            if not ocfg["preserve_outliers"] or not out_pos:
                continue
            if ocfg["preserve_only_with_correlation"] and not corr:
                continue
            limit = ocfg["max_preserved_outliers"]
            for p in out_pos:  # most extreme first
                root = nodes[p]
                if root in protected:
                    continue  # already inside an enclosing protected subtree
                if limit > 0 and len(preserved_roots.get(key, [])) >= limit:
                    break
                preserved_flag.add(root)
                protected.update(_subtree(root, children))
                preserved_roots.setdefault(key, []).append(root)

    # --- phase 2: aggregate bottom-up with re-checks (processor.go:315-363)
    preserving = ocfg is not None and ocfg["preserve_outliers"]
    marked = set()
    agg = {}
    for key, agg_depth, nodes in groups:
        if agg_depth == 0:
            if preserving:
                nodes = [i for i in nodes if i not in protected]
            if len(nodes) < cfg["min_spans"]:
                continue
        else:
            nodes = sorted(
                (
                    i for i in nodes
                    if not is_leaf[i] and parent_idx[i] >= 0
                    and i not in marked and i not in protected
                    and all(c in marked or c in protected for c in children[i])
                ),
                key=order_key,
            )
            if len(nodes) < 2:
                continue
        template = max(nodes, key=lambda i: durs[i])
        # first-wins tie like findLongestDurationNode's strict '>' scan
        for i in nodes:
            if durs[i] == durs[template]:
                template = i
                break
        pos = {i: p for p, i in enumerate(nodes)}
        diverse, missing = _attribute_loss([attrs[i] for i in nodes], list(range(len(nodes))), pos[template])
        agg[key] = {"nodes": nodes, "depth": agg_depth, "template": template,
                    "diverse": diverse, "missing": missing,
                    "outres": outlier_result.get(key),
                    "preserved": preserved_roots.get(key, [])}
        marked.update(nodes)

    if not agg:
        return passthrough()

    # --- phase 3: execute top-down (aggregation.go:63-144)
    replacement = {}
    removed = set()
    annot = {}  # preserved-outlier root -> (new_parent, summary_id)
    summaries = []
    for key in sorted(agg, key=lambda k: (-agg[k]["depth"], k)):
        g = agg[key]
        nodes = g["nodes"]
        gd = [durs[i] for i in nodes]
        summary_id = hashlib.md5(f"{trace_id}|{key}".encode()).hexdigest()[:16]
        first = nodes[0]
        parent_id = parent_ids[first] or ""
        if parent_idx[first] >= 0 and parent_idx[first] in replacement:
            parent_id = replacement[parent_idx[first]]
        t = g["template"]
        row = _orig_row(cols, t)
        row.update(
            span_id=summary_id, parent_span_id=parent_id,
            start_ns=min(starts[i] for i in nodes),
            end_ns=max(ends[i] for i in nodes),
            is_summary=True,
            agg_span_count=len(nodes),
            agg_duration_min_ns=min(gd), agg_duration_max_ns=max(gd),
            agg_duration_total_ns=sum(gd),
            agg_duration_avg_ns=sum(gd) // len(nodes),
            agg_diverse_attributes=_format_cardinality(g["diverse"]),
            agg_missing_attributes=_format_cardinality(g["missing"]),
        )
        if g["outres"] is not None:
            row["agg_duration_median_ns"] = g["outres"]["median"]
            if g["outres"]["correlations"]:
                row["agg_outlier_correlated"] = _format_correlations(g["outres"]["correlations"])
        if g["preserved"]:
            row["agg_preserved_outlier_count"] = len(g["preserved"])
            row["agg_preserved_outlier_span_ids"] = ",".join(ids[i] for i in g["preserved"])
        if cfg["hist_bounds_ns"]:
            # cumulative counts, one extra overflow bucket (stats.go:73-85)
            counts = [0] * (len(cfg["hist_bounds_ns"]) + 1)
            for d in gd:
                bi = len(cfg["hist_bounds_ns"])
                for bidx, b in enumerate(cfg["hist_bounds_ns"]):
                    if d <= b:
                        bi = bidx
                        break
                for k2 in range(bi, len(counts)):
                    counts[k2] += 1
            row["agg_hist_bounds_s"] = ",".join(
                repr(b / 1_000_000_000) for b in cfg["hist_bounds_ns"]
            )
            row["agg_hist_counts"] = ",".join(str(c) for c in counts)
        summaries.append(row)
        for i in g["preserved"]:
            annot[i] = (parent_id, summary_id)
        for i in nodes:
            replacement[i] = summary_id
            removed.add(i)

    out = []
    for i in range(n):
        if i in removed:
            continue
        row = _orig_row(cols, i)
        if i in annot:
            row["parent_span_id"] = annot[i][0]
            row["agg_is_preserved_outlier"] = True
            row["agg_summary_span_id"] = annot[i][1]
        out.append(row)
    return out + summaries


_BASE_COLS = ("trace_id", "span_id", "parent_span_id", "name", "kind", "status",
              "trace_state", "start_ns", "end_ns", "attrs")

_OUT_DEFAULTS = {
    "is_summary": False,
    "agg_span_count": None,
    "agg_duration_min_ns": None,
    "agg_duration_max_ns": None,
    "agg_duration_total_ns": None,
    "agg_duration_avg_ns": None,
    "agg_duration_median_ns": None,
    "agg_outlier_correlated": None,
    "agg_preserved_outlier_count": None,
    "agg_preserved_outlier_span_ids": None,
    "agg_hist_bounds_s": None,
    "agg_hist_counts": None,
    "agg_diverse_attributes": None,
    "agg_missing_attributes": None,
    "agg_is_preserved_outlier": False,
    "agg_summary_span_id": None,
}

_OUT_SCHEMA = (
    "trace_id string, span_id string, parent_span_id string, name string, "
    "kind string, status string, trace_state string, start_ns bigint, "
    "end_ns bigint, attrs map<string,string>, is_summary boolean, "
    "agg_span_count bigint, agg_duration_min_ns bigint, "
    "agg_duration_max_ns bigint, agg_duration_total_ns bigint, "
    "agg_duration_avg_ns bigint, agg_duration_median_ns bigint, "
    "agg_outlier_correlated string, agg_preserved_outlier_count bigint, "
    "agg_preserved_outlier_span_ids string, agg_hist_bounds_s string, "
    "agg_hist_counts string, agg_diverse_attributes string, "
    "agg_missing_attributes string, agg_is_preserved_outlier boolean, "
    "agg_summary_span_id string"
)


def _orig_row(cols, i):
    row = dict(_OUT_DEFAULTS)
    for c in _BASE_COLS:
        row[c] = cols[c][i] if c in cols else None
    return row


def _prune_batch(batch, starts, cfg, schema):
    """Prune each trace of a trace-contiguous batch (the grouped kernel's
    per-batch step). A NULL start_ns/end_ns reads as NaN, so every
    comparison with it is false; it leaves as NULL (_groups.rows_to_batch)."""
    cols = {c: pylist(batch.column(c), math.nan if c in ("start_ns", "end_ns") else None)
            for c in batch.schema.names}
    rows = []
    for lo, hi in bounds(starts, batch.num_rows):
        rows.extend(_prune_trace({c: v[lo:hi] for c, v in cols.items()}, cfg))
    return rows_to_batch([tuple(r[c] for c in schema.names) for r in rows], schema)


def span_pruning(
    df: DataFrame,
    group_by_attributes: list[str] | tuple = (),
    min_spans_to_aggregate: int = 5,
    max_parent_depth: int = 1,
    histogram_buckets_ns: list[int] | tuple = (),
    outlier: dict | None = None,
    condition: Column | str | None = None,
) -> DataFrame:
    """Prune repetitive sibling spans into summary spans, per trace.

    Input columns: trace_id, span_id, parent_span_id ('' / NULL = root),
    name, kind, status, start_ns, end_ns, optional trace_state and
    attrs MAP<STRING,STRING>. Output: kept spans + summary spans with the
    agg_* stat columns (NULL on non-summaries).

    `outlier` enables duration-outlier analysis; keys default to the
    reference's factory defaults (iqr, 1.5x, min_group_size 7, 10% floor,
    preserve off with cap 2). `condition` (bool Column/SQL over the input
    row) mirrors the OTTL trace-selection gate: a trace is pruned only when
    at least one of its spans matches (processor.go:252-279).
    """
    if min_spans_to_aggregate < 2:
        raise ValueError("min_spans_to_aggregate must be >= 2")
    ocfg = None
    if outlier is not None:
        ocfg = dict(_DEF_OUTLIER)
        unknown = set(outlier) - set(ocfg)
        if unknown:
            raise ValueError(f"unknown outlier options: {sorted(unknown)}")
        ocfg.update(outlier)
        if ocfg["method"] not in ("iqr", "mad"):
            raise ValueError(f"unknown outlier method: {ocfg['method']}")

    work = df
    if "trace_state" not in df.columns:
        work = work.withColumn("trace_state", F.lit(None).cast("string"))
    if "attrs" not in df.columns:
        work = work.withColumn("attrs", F.lit(None).cast("map<string,string>"))
    has_condition = condition is not None
    if has_condition:
        cond = F.expr(condition) if isinstance(condition, str) else condition
        work = work.withColumn("_match", F.coalesce(cond, F.lit(False)))
    work = work.select(*_BASE_COLS, *(["_match"] if has_condition else []))

    cfg = {
        "patterns": [re.compile(fnmatch.translate(p)) for p in group_by_attributes],
        "min_spans": int(min_spans_to_aggregate),
        "max_parent_depth": int(max_parent_depth),
        "hist_bounds_ns": [int(b) for b in histogram_buckets_ns],
        "outlier": ocfg,
        "has_condition": has_condition,
    }
    schema = arrow_schema(_OUT_SCHEMA)
    return group_kernel(
        work, ["trace_id"], ["start_ns", "span_id"], _OUT_SCHEMA,
        lambda batch, starts: _prune_batch(batch, starts, cfg, schema),
    )
