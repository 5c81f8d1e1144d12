"""The per-rule map engine, kept as the test oracle of ``prom_relabel.relabel``.

Every rule rewrites the whole ``map<string,string>`` label column with
map_filter/map_concat, exactly as the Prometheus relabeling contract reads
(one ``lbls.Set``/``Del`` per action), with no column lowering and no
reassembly. It is slow and simple on purpose: the relabel tests compare the
engine's label values against it, and its label order is insertion order,
so they compare values plus the engine's sorted keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators._catalyst import bind_once
from opentelemetry_collector_contrib_spark.operators.prom_relabel import (
    _DEFAULTS,
    _LABEL_NAME_RE,
    _anchor,
    _expand,
    _group_count,
    _hashmod,
    _is_valid_label_name,
    _java_repl,
    _match_gate,
    _set_label,
)


def _joined(l: Column, source_labels: list[str], sep: str) -> Column:
    """Source values joined by separator; an absent label contributes ""."""
    if not source_labels:
        return F.lit("")
    return F.concat_ws(
        sep, *[F.coalesce(F.element_at(l, F.lit(s)), F.lit("")) for s in source_labels]
    )


def relabel_map(df: DataFrame, rules: list[dict], labels_col: str = "labels") -> DataFrame:
    """Apply ``rules`` one map rewrite at a time (the reference semantics)."""

    def _filtered(frame: DataFrame, pred: Column) -> DataFrame:
        b = frame.withColumn("__rl_barrier", F.rand())
        return b.filter(pred).drop("__rl_barrier")

    for raw in rules:
        rule = {**_DEFAULTS, **raw}
        action = rule["action"]
        regex = rule["regex"]
        anchored = _anchor(regex)
        srcs = rule.get("source_labels", [])
        sep = rule["separator"]
        labels = F.col(labels_col)

        if action in ("keep", "drop"):
            matched = bind_once(labels, lambda l: _match_gate(_joined(l, srcs, sep), anchored, regex))
            df = _filtered(df, matched if action == "keep" else ~matched)
        elif action in ("keepequal", "dropequal"):
            eq = bind_once(
                labels,
                lambda l: _joined(l, srcs, sep)
                == F.coalesce(F.element_at(l, F.lit(rule["target_label"])), F.lit("")),
            )
            df = _filtered(df, eq if action == "keepequal" else ~eq)
        elif action == "replace":
            n_groups = _group_count(regex)
            tgt_tpl, rep_tpl = rule["target_label"], rule["replacement"]
            tgt_literal, rep_literal = "$" not in tgt_tpl, "$" not in rep_tpl
            if tgt_literal and not _is_valid_label_name(tgt_tpl):
                continue

            def _replace(l: Column) -> Column:
                val = _joined(l, srcs, sep)
                name = F.lit(tgt_tpl) if tgt_literal else _expand(val, anchored, tgt_tpl, n_groups)
                newval = F.lit(rep_tpl) if rep_literal else _expand(val, anchored, rep_tpl, n_groups)
                cond = _match_gate(val, anchored, regex)
                if not tgt_literal:
                    cond = cond & name.rlike(_LABEL_NAME_RE)
                return F.when(cond, _set_label(l, name, newval)).otherwise(l)

            df = df.withColumn(labels_col, bind_once(labels, _replace))
        elif action in ("lowercase", "uppercase"):
            case_fn = F.lower if action == "lowercase" else F.upper
            df = df.withColumn(labels_col, bind_once(labels, lambda l: _set_label(
                l, F.lit(rule["target_label"]), case_fn(_joined(l, srcs, sep)))))
        elif action == "hashmod":
            modulus = int(rule["modulus"])
            df = df.withColumn(labels_col, bind_once(labels, lambda l: _set_label(
                l, F.lit(rule["target_label"]), _hashmod(_joined(l, srcs, sep), modulus))))
        elif action == "labelmap":
            repl = _java_repl(rule["replacement"])

            def _lmap(l: Column) -> Column:
                # sorted source names: a colliding target resolves
                # last-wins over Prometheus's sorted labels
                renamed = F.transform(
                    F.array_sort(F.filter(F.map_entries(l), lambda e: _match_gate(e["key"], anchored, regex))),
                    lambda e: F.struct(
                        F.regexp_replace(e["key"], anchored, repl).alias("key"),
                        e["value"].alias("value"),
                    ),
                )
                return F.aggregate(
                    renamed,
                    l,
                    lambda acc, e: F.map_concat(
                        F.map_filter(acc, lambda k, _v: k != e["key"]),
                        F.map_from_arrays(F.array(e["key"]), F.array(e["value"])),
                    ),
                )

            df = df.withColumn(labels_col, bind_once(labels, _lmap))
        elif action in ("labeldrop", "labelkeep"):
            keep = action == "labelkeep"
            df = df.withColumn(labels_col, bind_once(labels, lambda l: F.map_filter(
                l,
                lambda k, _v: _match_gate(k, anchored, regex) if keep else ~_match_gate(k, anchored, regex),
            )))
        else:
            raise ValueError(f"unknown relabel action: {action}")
    return df


def assert_matches_oracle(df: DataFrame, rules: list[dict], key: str = "id", context=None) -> dict:
    """Run ``relabel`` and the oracle on ``df``; assert the same rows, the
    same label values, and canonically sorted output keys. The key order is
    read as ``map_keys`` (an array): ``collect()`` turns a map into a dict
    through a Java HashMap, which loses it. Returns the engine's rows."""
    from opentelemetry_collector_contrib_spark.operators.prom_relabel import relabel

    got = {
        r[key]: (dict(r["labels"] or {}), r["names"])
        for r in relabel(df, rules)
        .select(key, "labels", F.map_keys("labels").alias("names"))
        .collect()
    }
    want = {r[key]: dict(r["labels"] or {}) for r in relabel_map(df, rules).collect()}
    assert {k: v for k, (v, _n) in got.items()} == want, (context, rules)
    for k, (_v, names) in got.items():
        assert names is None or names == sorted(names), (context, k, names)
    return {k: v for k, (v, _n) in got.items()}
