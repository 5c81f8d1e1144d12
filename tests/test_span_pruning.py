"""spanpruningprocessor analogue vs the reference semantics
(processor/spanpruningprocessor/{processor,grouping,aggregation,outlier,
attribute_loss}.go + processor_test.go shapes)."""

from __future__ import annotations

import pytest

from opentelemetry_collector_contrib_spark.operators.span_pruning import span_pruning

SCHEMA = (
    "trace_id string, span_id string, parent_span_id string, name string, "
    "kind string, status string, start_ns bigint, end_ns bigint, "
    "attrs map<string,string>"
)


def _span(tid, sid, parent, name, start, end, kind="Client", status="Unset", attrs=None):
    return (tid, sid, parent, name, kind, status, start, end, attrs or {})


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    return span_pruning(df, **kw).collect()


def _by_id(rows):
    return {r.span_id: r for r in rows}


def _trace_with_leaves(n_leaves, name="db.query", dur=100, attrs=None):
    rows = [_span("t1", "root", "", "handler", 0, 100_000, kind="Server")]
    for i in range(n_leaves):
        rows.append(
            _span("t1", f"leaf{i}", "root", name, 1000 + i, 1000 + i + dur, attrs=attrs)
        )
    return rows


def test_basic_leaf_aggregation(spark):
    rows = _trace_with_leaves(6) + [_span("t1", "other", "root", "http.call", 50, 99950)]
    out = _run(spark, rows)
    summaries = [r for r in out if r.is_summary]
    assert len(summaries) == 1
    s = summaries[0]
    assert s.name == "db.query"
    assert s.agg_span_count == 6
    assert s.agg_duration_min_ns == 100 and s.agg_duration_max_ns == 100
    assert s.agg_duration_total_ns == 600 and s.agg_duration_avg_ns == 100
    assert s.parent_span_id == "root"
    assert s.start_ns == 1000 and s.end_ns == 1105  # earliest start / latest end
    kept = {r.span_id for r in out if not r.is_summary}
    assert kept == {"root", "other"}  # originals pruned, non-group survivors kept


def test_min_spans_floor(spark):
    out = _run(spark, _trace_with_leaves(4))
    assert not any(r.is_summary for r in out)
    assert len(out) == 5  # untouched


def test_grouping_splits_on_status_kind_and_attrs(spark):
    rows = [_span("t1", "root", "", "h", 0, 10_000, kind="Server")]
    for i in range(5):
        rows.append(_span("t1", f"ok{i}", "root", "q", 10 + i, 110 + i, status="Ok"))
        rows.append(_span("t1", f"err{i}", "root", "q", 10 + i, 110 + i, status="Error"))
        rows.append(
            _span("t1", f"sh{i}", "root", "q", 10 + i, 110 + i, status="Ok",
                  attrs={"db.shard": f"s{i % 2}", "noise": str(i)})
        )
    out = _run(spark, rows, group_by_attributes=["db.*"], min_spans_to_aggregate=2)
    summaries = [r for r in out if r.is_summary]
    # ok-group (attrs absent), err-group, and two shard groups (s0, s1);
    # 'noise' is not glob-matched so it cannot split groups
    assert len(summaries) == 4
    counts = sorted(s.agg_span_count for s in summaries)
    assert counts == [2, 3, 5, 5]


def test_parent_aggregation_reparents_leaf_summary(spark):
    rows = [_span("t1", "root", "", "svc", 0, 1_000_000, kind="Server")]
    for h in range(3):
        rows.append(_span("t1", f"h{h}", "root", "handler", h * 100, h * 100 + 50_000))
        for i in range(5):
            rows.append(
                _span("t1", f"l{h}_{i}", f"h{h}", "db.query", h * 100 + i, h * 100 + i + 80)
            )
    out = _run(spark, rows, max_parent_depth=1)
    by_name = {}
    for r in out:
        if r.is_summary:
            by_name[r.name] = r
    # all 15 leaves share (parent name, depth, key) -> one leaf summary;
    # all 3 handlers aggregate as an eligible parent group
    assert by_name["db.query"].agg_span_count == 15
    assert by_name["handler"].agg_span_count == 3
    assert by_name["handler"].parent_span_id == "root"
    # the leaf summary hangs under the handler SUMMARY (replacement chain,
    # aggregation.go:95-101)
    assert by_name["db.query"].parent_span_id == by_name["handler"].span_id
    assert {r.span_id for r in out if not r.is_summary} == {"root"}


def test_max_parent_depth_zero_disables_parent_aggregation(spark):
    rows = [_span("t1", "root", "", "svc", 0, 1_000_000, kind="Server")]
    for h in range(3):
        rows.append(_span("t1", f"h{h}", "root", "handler", 0, 50_000))
        for i in range(5):
            rows.append(_span("t1", f"l{h}_{i}", f"h{h}", "db.query", i, i + 80))
    out = _run(spark, rows, max_parent_depth=0)
    names = [r.name for r in out if r.is_summary]
    assert names == ["db.query"]
    assert sum(1 for r in out if r.name == "handler") == 3  # parents kept


def test_histogram_cumulative_counts(spark):
    rows = [_span("t1", "root", "", "h", 0, 10_000, kind="Server")]
    for i, d in enumerate([50, 150, 250, 1000, 5]):
        rows.append(_span("t1", f"l{i}", "root", "q", 0, d))
    out = _run(spark, rows, histogram_buckets_ns=[100, 200, 500])
    s = [r for r in out if r.is_summary][0]
    # durations 50,150,250,1000,5 vs bounds 100/200/500 -> per-bucket
    # 2,1,1,1 -> cumulative 2,3,4,5 (stats.go:73-85 increments upward)
    assert s.agg_hist_counts == "2,3,4,5"
    assert s.agg_hist_bounds_s.startswith("1e-07,2e-07,5e-07")


def test_outlier_iqr_annotates_median_and_correlation(spark):
    rows = [_span("t1", "root", "", "h", 0, 100_000, kind="Server")]
    for i in range(7):
        rows.append(
            _span("t1", f"n{i}", "root", "q", 0, 100, attrs={"db.shard": "s1"})
        )
    rows.append(_span("t1", "slow", "root", "q", 0, 10_000, attrs={"db.shard": "s9"}))
    out = _run(spark, rows, outlier={"method": "iqr"})
    s = [r for r in out if r.is_summary][0]
    # sorted durations: 7x100 + 10000; median = (100+100)/2 = 100
    assert s.agg_span_count == 8  # annotate-only: outlier still aggregated
    assert s.agg_duration_median_ns == 100
    assert s.agg_outlier_correlated == "db.shard=s9(100%/0%)"


def test_outlier_preserve_keeps_outlier_as_sibling(spark):
    rows = [_span("t1", "root", "", "h", 0, 100_000, kind="Server")]
    for i in range(7):
        rows.append(_span("t1", f"n{i}", "root", "q", 0, 100))
    rows.append(_span("t1", "slow", "root", "q", 0, 10_000))
    out = _run(spark, rows, outlier={"preserve_outliers": True})
    s = [r for r in out if r.is_summary][0]
    assert s.agg_span_count == 7  # outlier excluded from the aggregate
    assert s.agg_preserved_outlier_count == 1
    assert s.agg_preserved_outlier_span_ids == "slow"
    slow = _by_id(out)["slow"]
    assert slow.agg_is_preserved_outlier is True
    assert slow.agg_summary_span_id == s.span_id
    assert slow.parent_span_id == s.parent_span_id == "root"  # sibling of summary


def test_outlier_mad_method(spark):
    # durations: 9x100, 1x131. median=100, MAD=0 -> statistical=100,
    # minimum=int(100*1.1)=110 -> 131 is an outlier; 109 would not be.
    rows = [_span("t1", "root", "", "h", 0, 100_000, kind="Server")]
    for i in range(9):
        rows.append(_span("t1", f"n{i}", "root", "q", 0, 100))
    rows.append(_span("t1", "edge", "root", "q", 0, 131))
    out = _run(spark, rows, outlier={"method": "mad", "preserve_outliers": True})
    s = [r for r in out if r.is_summary][0]
    assert s.agg_preserved_outlier_count == 1
    assert _by_id(out)["edge"].agg_is_preserved_outlier is True


def test_outlier_min_group_size_gate(spark):
    # 6 spans < default min_group_size 7 -> no outlier analysis at all
    rows = [_span("t1", "root", "", "h", 0, 100_000, kind="Server")]
    for i in range(5):
        rows.append(_span("t1", f"n{i}", "root", "q", 0, 100))
    rows.append(_span("t1", "slow", "root", "q", 0, 50_000))
    out = _run(spark, rows, outlier={"preserve_outliers": True})
    s = [r for r in out if r.is_summary][0]
    assert s.agg_span_count == 6
    assert s.agg_duration_median_ns is None
    assert s.agg_preserved_outlier_count is None


def test_attribute_loss_diverse_and_missing(spark):
    rows = [_span("t1", "root", "", "h", 0, 100_000, kind="Server")]
    for i in range(5):
        attrs = {"db.stmt": f"q{i}"}  # present in all, 5 distinct values
        if i < 2:
            attrs["retry"] = str(i)  # present in SOME spans only
        rows.append(_span("t1", f"l{i}", "root", "q", 0, 100 + i, attrs=attrs))
    out = _run(spark, rows)
    s = [r for r in out if r.is_summary][0]
    # diverse: db.stmt has 5 unique values -> loss 4; missing: retry has 2
    # values, template (longest = l4) lacks it -> loss 2
    assert s.agg_diverse_attributes == "db.stmt(4)"
    assert s.agg_missing_attributes == "retry(2)"
    # summary keeps the template's attributes verbatim
    assert dict(s.attrs)["db.stmt"] == "q4"


def test_condition_gates_traces(spark):
    rows = _trace_with_leaves(6)
    rows += [
        _span("t2", "root", "", "handler", 0, 100_000, kind="Server"),
        *[_span("t2", f"leaf{i}", "root", "db.query", i, i + 100) for i in range(6)],
    ]
    out = _run(spark, rows, condition="trace_id = 't1'")
    t1 = [r for r in out if r.trace_id == "t1"]
    t2 = [r for r in out if r.trace_id == "t2"]
    assert any(r.is_summary for r in t1)
    assert not any(r.is_summary for r in t2) and len(t2) == 7  # untouched


def test_summary_ids_deterministic(spark):
    a = {r.span_id for r in _run(spark, _trace_with_leaves(6)) if r.is_summary}
    b = {r.span_id for r in _run(spark, _trace_with_leaves(6)) if r.is_summary}
    assert a == b and len(a) == 1


def test_template_is_longest_duration_span(spark):
    rows = [_span("t1", "root", "", "h", 0, 100_000, kind="Server")]
    for i, d in enumerate([100, 500, 200, 100, 100]):
        rows.append(_span("t1", f"l{i}", "root", "q", 0, d, attrs={"pick": f"v{i}"}))
    out = _run(spark, rows)
    s = [r for r in out if r.is_summary][0]
    assert dict(s.attrs) == {"pick": "v1"}  # the 500ns span is the template


def test_config_validation(spark):
    df = spark.createDataFrame(_trace_with_leaves(3), SCHEMA)
    with pytest.raises(ValueError, match="min_spans_to_aggregate"):
        span_pruning(df, min_spans_to_aggregate=1)
    with pytest.raises(ValueError, match="unknown outlier method"):
        span_pruning(df, outlier={"method": "zscore"})
    with pytest.raises(ValueError, match="unknown outlier options"):
        span_pruning(df, outlier={"bogus": 1})


def test_int64_beside_null_stays_exact(spark):
    # start_ns/end_ns above 2**53 next to a NULL end_ns in one Arrow batch:
    # kept spans and the summary's bounds keep every digit
    big = 1_700_000_000_123_457_789
    rows = [_span("t1", "root", "", "handler", big, big + 100_000, kind="Server")]
    rows += [_span("t1", f"leaf{i}", "root", "db.query", big + i, big + i + 100) for i in range(5)]
    rows += [_span("t1", "open", "root", "cache.get", big + 7, None)]
    out = _by_id(_run(spark, rows))
    assert (out["root"].start_ns, out["root"].end_ns) == (big, big + 100_000)
    assert (out["open"].start_ns, out["open"].end_ns) == (big + 7, None)
    (summary,) = [r for r in out.values() if r.is_summary]
    assert (summary.start_ns, summary.end_ns) == (big, big + 104)
    assert summary.agg_duration_total_ns == 500
