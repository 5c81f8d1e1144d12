"""Data-contract checks: one-aggregate-pass validation semantics."""

from __future__ import annotations

from opentelemetry_collector_contrib_spark.plans.contracts import validate_contract


def test_contract_check_semantics(spark):
    df = spark.createDataFrame(
        [
            ("a", 0, "user"),
            ("a", 1, "assistant"),
            ("a", 1, "tool"),       # duplicate (conv, idx)
            (None, 2, "user"),      # null conv
            ("b", -1, "user"),      # negative idx
            ("b", 3, "robot"),      # bad role
        ],
        "conv_id string, turn_idx int, role string",
    )
    checks = [
        {"type": "not_null", "col": "conv_id"},
        {"type": "range", "col": "turn_idx", "min": 0},
        {"type": "enum", "col": "role", "allowed": ["system", "user", "assistant", "tool"]},
        {"type": "unique", "cols": ["conv_id", "turn_idx"]},
        {"type": "regex", "col": "conv_id", "pattern": "^[ab]$"},
        # a lenient budget: 1 bad role in 6 rows passes at 20%
        {"name": "role_lenient", "type": "enum", "col": "role",
         "allowed": ["system", "user", "assistant", "tool"],
         "max_violation_frac": 0.2},
    ]
    out = {r.check: r for r in validate_contract(df, checks).collect()}
    assert out["not_null:conv_id"].n_violations == 1
    assert out["range:turn_idx"].n_violations == 1  # NULL conv row's idx=2 fine
    assert out["enum:role"].n_violations == 1 and out["enum:role"].passed is False
    assert out["unique:conv_id_turn_idx"].n_violations == 1
    assert out["regex:conv_id"].n_violations == 0  # NULL doesn't violate regex
    assert out["role_lenient"].passed is True
    assert all(r.n_rows == 6 for r in out.values())


def test_contract_single_pass_plan(spark, t1):
    from opentelemetry_collector_contrib_spark.plans.contracts import (
        transcript_contract,
        validate_contract,
    )

    out = validate_contract(t1, transcript_contract())
    rows = {r.check: r.passed for r in out.collect()}
    assert len(rows) == 6 and all(rows.values())  # fixture satisfies its contract
    # all checks ride ONE aggregate over ONE scan (inspect the final
    # adaptive section only — toString repeats the scan in Initial Plan)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1


def test_config_contract_section_gates_the_batch(spark):
    from opentelemetry_collector_contrib_spark.plans.config import build_pipeline

    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    base = {
        "source": {"path": ensure_tier("t1")},
        "order": {"enabled": False},
    }
    ok_spec = {
        **base,
        "contract": {"checks": [{"type": "not_null", "col": "conv_id"}]},
    }
    assert build_pipeline(spark, ok_spec).count() > 0

    import pytest as _pt

    bad_spec = {
        **base,
        "contract": {
            "checks": [{"type": "enum", "col": "role", "allowed": ["user"]}]
        },
    }
    with _pt.raises(ValueError, match="data contract failed"):
        build_pipeline(spark, bad_spec)
    # report mode proceeds despite the violation
    report_spec = {**bad_spec, "contract": {**bad_spec["contract"], "mode": "report"}}
    assert build_pipeline(spark, report_spec).count() > 0


def test_config_dlq_section_routes_to_quarantine(spark):
    from opentelemetry_collector_contrib_spark.operators.route import sink_frames
    from opentelemetry_collector_contrib_spark.plans.config import (
        build_pipeline,
        route_table_from_spec,
    )

    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    spec = {
        "source": {"path": ensure_tier("t1")},
        "order": {"enabled": False},
        "dlq": {"rules": [{"reason": "unparsed", "when": 'pattern_id == "raw"'}]},
        "routes": {
            "table": [
                {"name": "errors", "condition": 'sev == "error"'},
                # matches every row: a copy sees quarantined rows too
                {"name": "audit", "condition": "turn_idx >= 0", "mode": "copy"},
            ],
            "default": "general",
        },
    }
    routed = build_pipeline(spark, spec).persist()
    try:
        sinks = sink_frames(routed, route_table_from_spec(spec))
        assert set(sinks) == {"quarantine", "errors", "general", "audit"}
        nq = sinks["quarantine"].count()
        assert nq > 0  # the fixture's ~2% unparsable lines land here
        # quarantine wins first-match: no raw rows leak into other sinks
        from pyspark.sql import functions as F

        for name in ("errors", "general", "audit"):
            assert sinks[name].filter(F.col("pattern_id") == "raw").count() == 0
        assert sinks["quarantine"].filter(F.col("error_reason").isNull()).count() == 0
        # the copy route takes every clean row and no quarantined one
        assert sinks["audit"].count() == routed.count() - nq
        total = sum(sinks[n].count() for n in ("quarantine", "errors", "general"))
        assert total == routed.count()
    finally:
        routed.unpersist()


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------

from opentelemetry_collector_contrib_spark.plans.contracts import (  # noqa: E402
    fk_orphans,
    referential_summary,
)


def test_fk_null_exemption_and_composite(spark):
    child = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "a", 99), (None, None, 40)],
        "k1 long, k2 string, payload long",
    )
    parent = spark.createDataFrame(
        [(1, "a"), (2, "b")], "p1 long, p2 string"
    )
    got = fk_orphans(child, parent, {"k1": "p1", "k2": "p2"}).collect()
    # (3, NULL) and (NULL, NULL) are exempt (MATCH SIMPLE); (4,'a') dangles
    assert [(r.k1, r.k2) for r in got] == [(4, "a")]


def test_fk_summary_budget(spark):
    child = spark.createDataFrame(
        [(i, i % 10) for i in range(100)], "id long, fk long"
    )
    parent = spark.createDataFrame([(i,) for i in range(9)], "pk long")  # fk=9 dangles
    tables = {"c": child, "p": parent}
    strict, lax = referential_summary(
        tables,
        [
            {"name": "strict", "child": "c", "parent": "p", "on": {"fk": "pk"}},
            {"name": "lax", "child": "c", "parent": "p", "on": {"fk": "pk"},
             "max_violation_frac": 0.2},
        ],
    ).collect()
    assert (strict.n_child, strict.n_checkable, strict.n_orphans, strict.passed) == (100, 100, 10, False)
    assert lax.passed is True


def test_fk_duplicate_parent_keys_dont_multiply(spark):
    # parent has duplicate key rows; anti join must not duplicate children
    child = spark.createDataFrame([(1,), (2,)], "fk long")
    parent = spark.createDataFrame([(1,), (1,), (1,)], "pk long")
    got = fk_orphans(child, parent, {"fk": "pk"})
    assert [r.fk for r in got.collect()] == [2]


def test_table_diff_verdicts(spark):
    from opentelemetry_collector_contrib_spark.plans.contracts import table_diff
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "id int, t string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", None), (4, "d", 9.0), (5, "e", 5.0)],
        "id int, t string, v double",
    )
    out = {r["id"]: r for r in table_diff(old, new, ["id"], ["t", "v"]).collect()}
    assert out[1]["verdict"] == "removed"
    assert out[2]["verdict"] == "unchanged" and out[2]["changed_cols"] == []
    # NULL == NULL must compare as unchanged (null-safe equality)
    assert out[3]["verdict"] == "unchanged"
    assert out[4]["verdict"] == "changed" and out[4]["changed_cols"] == ["v"]
    assert out[4]["old_v"] == 4.0 and out[4]["new_v"] == 9.0
    assert out[5]["verdict"] == "added" and out[5]["changed_cols"] == []


def test_table_diff_present_row_with_all_null_values(spark):
    from opentelemetry_collector_contrib_spark.plans.contracts import table_diff

    old = spark.createDataFrame([(1, None)], "id int, v double")
    new = spark.createDataFrame([(1, None), (2, None)], "id int, v double")
    out = {r["id"]: r for r in table_diff(old, new, ["id"], ["v"]).collect()}
    # row 1 exists on both sides with NULL v -> unchanged, NOT added/removed
    assert out[1]["verdict"] == "unchanged"
    assert out[2]["verdict"] == "added"
