"""Prometheus relabel_config engine — the scrape-side label rewriting the
collector's ``receiver/prometheusreceiver`` applies through the embedded
Prometheus config (README.md:91-105 "Service discovery and relabeling
behave like Prometheus", alert_config.relabel_configs README.md:39).

Semantics follow the public Prometheus relabeling contract
(prometheus/model/relabel): each rule reads ``source_labels`` joined by
``separator`` (missing label → ""), full-matches ``regex`` (patterns are
anchored ``^(?:re)$``), and then by ``action``:

  - ``replace``      match → set ``target_label`` to ``replacement`` with
                     ``$1``/``${1}`` group refs expanded; empty expansion
                     deletes the label; no match → no-op
  - ``keep``/``drop``          keep/drop the whole series on match
  - ``keepequal``/``dropequal`` compare the joined source value to the
                     current value of ``target_label``
  - ``lowercase``/``uppercase`` set ``target_label`` to the cased value
  - ``hashmod``      set ``target_label`` to
                     ``uint64_be(md5(val)[8:16]) % modulus``
  - ``labelmap``     every label NAME matching regex gains a copy under
                     the expanded replacement name (last write wins)
  - ``labeldrop``/``labelkeep`` filter label names by regex

Everything compiles to native Column expressions at plan-build time —
zero Python in the hot path, no shuffle, so a 10^12-row scrape stream
relabels at scan speed. Labels ride in a ``map<string,string>`` column,
but inside the chain they are split in two: every label a rule names (a
source, or a literal target) is a string column, extracted once (NULL
means absent), and the static actions rewrite those columns with codegen
when-chains. The labels no rule names stay in a ``rest`` map, which only
the dynamic actions (labelmap, labeldrop/labelkeep, a replace with a
group-ref target) read; they test each column by name with a regex gate
on ``F.lit(name)`` that Catalyst folds to a constant. The map is
reassembled once at the end, sorted by label name — Prometheus's own
``labels.Labels`` order.

Three Catalyst hazards shape the implementation (all measured, all fatal
on long chains without the countermeasures):

  1. **Multiplicative inlining.** A rule's expression references its
     inputs several times (joined source value, match gate, fallback
     branch, and a dynamic rule reads every column and the ``rest`` map
     once per column or hit). When Catalyst collapses the per-rule
     projections, each reference re-inlines the whole upstream chain.
  2. **Filter pushdown blowup.** A keep/drop Filter above the projection
     stack gets pushed through it, substituting the full labels
     expression into the predicate at every level. A nondeterministic
     column (``rand()`` — streaming-legal, unlike
     monotonically_increasing_id) right under each Filter, which the
     predicate reads (``rand() >= 0``, always true), pins it in place; an
     unread one is pruned away and the Filter pushed down regardless.
  3. **State projection.** The cure for hazard 1: after the extraction
     and before each dynamic rule the state (the label columns plus
     ``rest``) is projected into real columns, and a dynamic rule projects
     its own many-times-read values (the expanded name, the sorted hits)
     too. Catalyst keeps a projection whose expressions are read more
     than once, so the plan grows linearly with the chain; without it,
     repeated labelmaps grow it several-fold per copy of the chain. The
     static rules between them are not projected: a per-rule projection
     would add one DataFrame call, and so one more analysis, per rule.

Building the chain is mostly Column construction, not DataFrame calls:
each function node costs at least one py4j call into the JVM. For the
nine-action scrape chain (4-core host, Spark 4.1.2, local[1], median of
12) the Columns took 0.50 s and 3,514 py4j round trips (0.25 s and 1,454
with PySpark's DataFrame debugging off), its 9 DataFrame calls 0.12 s and
124 round trips. So, as Prometheus compiles ``relabel_configs`` once when
the config loads, ``_compile`` builds each chain once per rule set,
memoized on a JSON snapshot of the rules, ``labels_col`` and the py4j
gateway, and ``relabel`` replays its recorded ``withColumn(s)``/``filter``
steps.

Replacement strings support RE2-style ``$1``/``${1}`` group references
(translated to Java's ``$1``); a literal ``$`` in a replacement is not
supported (document-level limitation, as in Java's Matcher).
"""

from __future__ import annotations

import functools
import json
import re
from typing import Any

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEFAULTS = {
    "action": "replace",
    "separator": ";",
    "regex": "(.*)",
    "replacement": "$1",
}


def _anchor(regex: str) -> str:
    """Prometheus anchors rules as ^(?:re)$ under RE2, where $ is
    end-of-TEXT. Java's $ also matches before a final newline, so the
    faithful Java translation is \\A(?:re)\\z (probe-confirmed: a label
    value "x1\\n" must NOT full-match "x1")."""
    return "\\A(?:" + regex + ")\\z"


def _java_repl(repl: str, n_groups: int | None = None) -> str:
    """RE2 ``${1}`` → Java ``$1`` (plain ``$1`` passes through). When the
    rule's group count is known, references to groups the regex does not
    define are stripped — RE2's ExpandString yields "" for out-of-range
    groups, while Java's replaceAll throws (probe-confirmed: an
    unvalidated $2 against a 1-group regex aborts the whole job)."""
    out = re.sub(r"\$\{(\d+)\}", r"$\1", repl)
    if n_groups is not None:
        out = re.sub(
            r"\$(\d+)", lambda m: "" if int(m.group(1)) > n_groups else m.group(0), out
        )
    return out


def _expand(val: Column, anchored: str, template: str, n_groups: int | None = None) -> Column:
    """Full-match group expansion: the template with $n refs substituted.
    Callers gate on the match, so replacing the (single, full-string)
    match IS the expansion."""
    return F.regexp_replace(val, anchored, _java_repl(template, n_groups))


def _group_count(regex: str) -> int | None:
    """Capture-group count of the rule regex (None if Python's re cannot
    parse the pattern — then out-of-range refs are left to fail loudly)."""
    try:
        return re.compile(regex).groups
    except re.error:
        return None


# --- literal fast-path gates (round 4) ---------------------------------------
# Prometheus's own relabeler front-loads a literal-prefix check before the
# RE2 machine (model/relabel via the FastRegexMatcher family); the same
# optimization here turns "anchored regex per row per rule" into "cheap
# string compare per row, regex only on candidates". Each derived gate is
# IMPLIED by the full anchored match, so results are unchanged.

_META = set(".^$*+?()[]{}|\\")


def _toplevel_alt(regex: str) -> bool:
    """True if the pattern has a top-level alternation (which would make
    any scanned prefix unsound: 'abc|def' does not require 'abc')."""
    depth, esc, in_class = 0, False, False
    for ch in regex:
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
            continue
        if in_class:
            in_class = ch != "]"
            continue
        if ch == "[":
            in_class = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            return True
    return False


def _literal_prefix(regex: str) -> str:
    """Longest literal string every match must START with: leading
    literal chars up to the first metacharacter; a trailing char whose
    quantifier makes it optional (* ? {) is dropped. Conservative —
    returns "" whenever unsure, which only weakens the gate."""
    if _toplevel_alt(regex):
        return ""
    out: list[str] = []
    for ch in regex:
        if ch in _META:
            if ch in "*?{" and out:
                out.pop()  # previous char is optional under this quantifier
            break
        out.append(ch)
    return "".join(out)


# Characters '.' does NOT match in Java/RE2 default mode — a value
# containing any of these cannot full-match \A(?:.*)\z (see _anchor's
# probe: "x1\n" must NOT match "x1"). The default-regex fast paths below
# must preserve that, so they gate on line-terminator absence instead of
# short-circuiting to TRUE.
_LINE_TERM = "[\n\r\u0085\u2028\u2029]"


def _match_gate(val: Column, anchored: str, regex: str) -> Column:
    """Full-match predicate with the literal fast path in front.
    Prometheus's default '(.*)' matches any line-terminator-free value
    (the joined source is never NULL — concat_ws) and '(.+)' adds
    non-emptiness; both skip the full regex machine, but NOT the
    line-terminator check — '.' excludes \\n under both RE2 and Java, so
    a newline-bearing value must fail exactly as the anchored regex
    would."""
    if regex in ("(.*)", ".*", "(.*)?"):
        return ~val.rlike(_LINE_TERM)
    if regex in ("(.+)", ".+"):
        return (val != "") & ~val.rlike(_LINE_TERM)
    prefix = _literal_prefix(regex)
    if prefix:
        return val.startswith(prefix) & val.rlike(anchored)
    return val.rlike(anchored)


def _is_valid_label_name(name: str) -> bool:
    return re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", name) is not None


# Prometheus legacy label-name validation (model/labels): a replace whose
# expanded target name is invalid is skipped, not applied
_LABEL_NAME_RE = "\\A[a-zA-Z_][a-zA-Z0-9_]*\\z"


def _set_label(l: Column, name: Column, value: Column) -> Column:
    """lbls.Set(name, value): delete any existing entry, then insert —
    unless the value is empty, which is Prometheus's delete."""
    cleared = F.map_filter(l, lambda k, _v: k != name)
    return F.when(value == "", cleared).otherwise(
        F.map_concat(cleared, F.map_from_arrays(F.array(name), F.array(value)))
    )


def _hashmod(val: Column, modulus: int) -> Column:
    """uint64 big-endian of md5 bytes [8:16), mod modulus — computed in
    DECIMAL(38,0) so the unsigned 64-bit value never wraps."""
    hi = F.conv(F.substring(F.md5(val), 17, 8), 16, 10).cast("decimal(38,0)")
    lo = F.conv(F.substring(F.md5(val), 25, 8), 16, 10).cast("decimal(38,0)")
    v = hi * F.lit(4294967296).cast("decimal(38,0)") + lo
    return F.pmod(v, F.lit(modulus).cast("decimal(38,0)")).cast("bigint").cast("string")


_STATE = "__rl_"  # prefix of the chain's working columns, dropped at the end
_REST = _STATE + "rest"
_CHAINS_CACHED = 32  # compiled chains kept, one per (rules, labels_col, JVM)


def _template_prefix(template: str) -> str:
    """Literal text every expansion of a replacement template starts with:
    everything before the first group ref. A backslash (Java's replacement
    escape) makes the prefix unsure, so it yields "" (no narrowing)."""
    prefix = template.split("$", 1)[0]
    return "" if "\\" in prefix else prefix


def relabel(df: DataFrame, rules: list[dict], labels_col: str = "labels") -> DataFrame:
    """Apply a relabel_configs chain to ``labels_col``.

    Each rule is a dict with Prometheus's keys (``action``,
    ``source_labels``, ``separator``, ``regex``, ``target_label``,
    ``replacement``, ``modulus``); omitted keys take Prometheus's
    defaults. keep/drop/keepequal/dropequal filter rows; every other
    action rewrites the label set. The output map is sorted by label
    name; the module docstring describes how the chain compiles.

    The chain compiles once per rule set (``_compile``) and each call
    replays its steps on ``df``. The rules are snapshotted as JSON, so a
    caller that edits its rule dicts afterwards gets a fresh chain."""
    rules = [
        r for r in ({**_DEFAULTS, **raw} for raw in rules)
        # a literal, invalid replace target makes the rule a no-op
        if not (r["action"] == "replace" and "$" not in r["target_label"]
                and not _is_valid_label_name(r["target_label"]))
    ]
    steps, working = _compile(json.dumps(rules, sort_keys=True), labels_col, SparkContext._gateway)
    for method, *args in steps:
        df = getattr(df, method)(*args)
    return df.drop(*working)


@functools.lru_cache(maxsize=_CHAINS_CACHED)
def _compile(
    rules_json: str, labels_col: str, gateway: object
) -> tuple[tuple[tuple[Any, ...], ...], tuple[str, ...]]:
    """Build the chain for the normalized rules in ``rules_json``: the
    ordered ``(DataFrame method, *args)`` steps that ``relabel`` replays, and
    the names of the working columns it drops afterwards. It makes no
    DataFrame call, so its Columns fit any frame with ``labels_col``.
    ``gateway`` is only part of the cache key: the cached Columns are
    handles into that JVM."""
    rules = json.loads(rules_json)
    steps: list[tuple[Any, ...]] = []
    touched: list[str] = []
    for rule in rules:
        names = list(rule.get("source_labels", []))
        if "target_label" in rule and not (
            rule["action"] == "replace" and "$" in rule["target_label"]
        ):
            names.append(rule["target_label"])
        for n in names:
            if n not in touched:
                touched.append(n)

    labels = F.col(labels_col)
    work: dict[str, Column] = {n: F.element_at(labels, F.lit(n)) for n in touched}
    rest = F.map_filter(labels, lambda k, _v: ~k.isin(*touched)) if touched else labels
    slots = {n: f"{_STATE}{i}" for i, n in enumerate(touched)}

    def project() -> None:
        """Hazard 3: materialize the state as real columns, so the rule
        that follows reads columns instead of re-inlining the chain."""
        nonlocal rest
        steps.append(("withColumns", {**{slots[n]: work[n] for n in touched}, _REST: rest}))
        work.update({n: F.col(slots[n]) for n in touched})
        rest = F.col(_REST)

    def joined(srcs: list[str], sep: str) -> Column:
        if not srcs:
            return F.lit("")
        return F.concat_ws(sep, *[F.coalesce(work[s], F.lit("")) for s in srcs])

    def entries(m: Column, values: dict[str, Column]) -> Column:
        """The entries of map ``m`` plus a (name, value) entry for each
        non-NULL value."""
        out = F.map_entries(m)
        if values:
            pairs = F.array(*[F.struct(F.lit(n).alias("key"), v.alias("value")) for n, v in values.items()])
            out = F.concat(out, F.filter(pairs, lambda e: e["value"].isNotNull()))
        return out

    def filtered(pred: Column) -> None:
        # hazard 2: the predicate reads a nondeterministic column, so the
        # Filter can neither be pushed below it nor have it pruned away
        steps.append(("withColumn", _STATE + "barrier", F.rand()))
        steps.append(("filter", pred & (F.col(_STATE + "barrier") >= 0)))

    project()
    for rule in rules:
        action = rule["action"]
        regex = rule["regex"]
        anchored = _anchor(regex)
        srcs = rule.get("source_labels", [])
        sep = rule["separator"]
        if action in ("labelmap", "labeldrop", "labelkeep") or (
            action == "replace" and "$" in rule["target_label"]
        ):
            project()

        def gate(v: Column) -> Column:
            return _match_gate(v, anchored, regex)

        if action in ("keep", "drop"):
            m = gate(joined(srcs, sep))
            filtered(m if action == "keep" else ~m)
        elif action in ("keepequal", "dropequal"):
            eq = joined(srcs, sep) == F.coalesce(work[rule["target_label"]], F.lit(""))
            filtered(eq if action == "keepequal" else ~eq)
        elif action == "replace":
            n_groups = _group_count(regex)
            tgt, rep = rule["target_label"], rule["replacement"]
            val = joined(srcs, sep)
            newval = F.lit(rep) if "$" not in rep else _expand(val, anchored, rep, n_groups)
            if "$" not in tgt:
                # Set(""): delete -> NULL; no match -> keep previous value
                work[tgt] = F.when(gate(val), F.nullif(newval, F.lit(""))).otherwise(work[tgt])
                continue
            # group-ref target: the expanded name may be any column or a
            # rest label, so the rule's values become columns first
            steps.append(("withColumns", {
                _STATE + "name": _expand(val, anchored, tgt, n_groups),
                _STATE + "new": newval,
                # invalid expanded target name -> rule skipped, as in
                # Prometheus relabel.go's target.IsValid() gate
                _STATE + "hit": gate(val)
                & _expand(val, anchored, tgt, n_groups).rlike(_LABEL_NAME_RE),
            }))
            name, new, hit = (F.col(_STATE + c) for c in ("name", "new", "hit"))
            prefix = _template_prefix(tgt)
            for n in touched:
                if n.startswith(prefix):
                    work[n] = F.when(hit & (name == n), F.nullif(new, F.lit(""))).otherwise(work[n])
            to_rest = hit & ~name.isin(*touched) if touched else hit
            rest = F.when(to_rest, _set_label(rest, name, new)).otherwise(rest)
        elif action in ("lowercase", "uppercase"):
            case_fn = F.lower if action == "lowercase" else F.upper
            work[rule["target_label"]] = F.nullif(case_fn(joined(srcs, sep)), F.lit(""))
        elif action == "hashmod":
            work[rule["target_label"]] = _hashmod(joined(srcs, sep), int(rule["modulus"]))
        elif action == "labelmap":
            repl = _java_repl(rule["replacement"])
            # every matching label, columns and rest alike, sorted by
            # source name (Prometheus iterates sorted labels, so a colliding
            # target resolves last-wins over sorted sources) and renamed
            matched = entries(
                F.map_filter(rest, lambda k, _v: gate(k)),
                {n: F.when(gate(F.lit(n)), work[n]) for n in touched},
            )
            steps.append(("withColumn", _STATE + "hits", F.transform(
                F.sort_array(matched),
                lambda e: F.struct(
                    F.regexp_replace(e["key"], anchored, repl).alias("key"),
                    e["value"].alias("value"),
                ),
            )))
            hits = F.col(_STATE + "hits")
            prefix = _template_prefix(rule["replacement"])
            for n in touched:
                if n.startswith(prefix):
                    # last hit on this column's name, else its old value
                    last = F.get(F.reverse(F.filter(hits, lambda e: e["key"] == n)), 0)
                    work[n] = F.coalesce(last["value"], work[n])
            # fold Set() over the other hits in order: the last write wins
            rest = F.aggregate(
                F.filter(hits, lambda e: ~e["key"].isin(*touched)) if touched else hits,
                rest,
                lambda acc, e: F.map_concat(
                    F.map_filter(acc, lambda k, _v: k != e["key"]),
                    F.map_from_arrays(F.array(e["key"]), F.array(e["value"])),
                ),
            )
        elif action in ("labeldrop", "labelkeep"):
            keep = action == "labelkeep"
            rest = F.map_filter(rest, lambda k, _v: gate(k) if keep else ~gate(k))
            for n in touched:
                hit = gate(F.lit(n))
                work[n] = F.when(hit if keep else ~hit, work[n])
        else:
            raise ValueError(f"unknown relabel action: {action}")

    steps.append(("withColumn", labels_col, F.map_from_entries(F.sort_array(entries(rest, work)))))
    # every column a step makes; the __rl_ ones are the working columns
    made = [n for method, *args in steps if method != "filter"
            for n in (args[0] if method == "withColumns" else args[:1])]
    return tuple(steps), tuple(dict.fromkeys(n for n in made if n.startswith(_STATE)))


def labels_csv(labels: Column) -> Column:
    """Canonical sorted ``k=v`` CSV of a label map (cross-engine hash key)."""
    return F.concat_ws(
        ",",
        F.array_sort(
            F.transform(F.map_entries(labels), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
    )


def merge_scrape_labels(
    target_labels: Column, scraped_labels: Column, honor_labels: bool = False
) -> Column:
    """Prometheus scrape-time label conflict resolution (the
    ``honor_labels`` scrape-config setting the prometheusreceiver embeds,
    per the public scrape contract):

      - honor_labels=false (default): the TARGET's labels win; a scraped
        label whose name conflicts is kept under ``exported_<name>``;
      - honor_labels=true: the SCRAPED label wins; the target's
        conflicting label is dropped.

    One map projection, no shuffle. A scraped ``exported_<name>`` that
    collides with a renamed conflict resolves last-write-wins (matching
    our Set() convention; the pathological double-exported case is not
    name-chained, as in Prometheus)."""
    if honor_labels:
        only_target = F.map_filter(
            target_labels, lambda k, _v: F.element_at(scraped_labels, k).isNull()
        )
        return F.map_concat(only_target, scraped_labels)
    renamed_entries = F.transform(
        F.map_entries(scraped_labels),
        lambda e: F.struct(
            F.when(
                F.element_at(target_labels, e["key"]).isNotNull(),
                F.concat(F.lit("exported_"), e["key"]),
            )
            .otherwise(e["key"])
            .alias("key"),
            e["value"].alias("value"),
        ),
    )
    # fold Set() so a scraped 'exported_job' and a renamed 'job' ->
    # 'exported_job' collide last-write-wins instead of erroring
    renamed = F.aggregate(
        renamed_entries,
        F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        ),
        lambda acc, e: _set_label(acc, e["key"], e["value"]),
    )
    only_new = F.map_filter(renamed, lambda k, _v: F.element_at(target_labels, k).isNull())
    return F.map_concat(target_labels, only_new)
