"""Dead-letter / quarantine: rows that fail pipeline invariants go to an
annotated quarantine sink instead of passing on as silent NULLs.

The reference's exporterhelper retry queue ultimately DROPS data that
exhausts retries (exporter/exporterhelper sending_queue — delivery
failure, not content failure), and its parsers' `on_error=send`
convention forwards malformed records with nothing but NULL fields.
At training-data scale both are wrong for CONTENT failures: a row that
can't be parsed or violates an invariant must land somewhere queryable,
tagged with why, so curation can audit loss instead of discovering it
as silent NULL inflation.

The DLQ is the pipeline spec's quarantine route (plans/config.py): a
spec's ``dlq.rules`` (OTTL conditions) compile through
``quarantine_reason`` into an ``error_reason`` column, and
``route_table_from_spec`` puts a first-match ``quarantine`` move route
ahead of every other route and keeps quarantined rows out of copy routes.
Batch and streaming jobs therefore divert bad rows the same way, through
the same sink writers. ``job.py --dlq`` writes ``FIXTURE_DLQ_RULES`` into
the spec. ``split_quarantine`` is the same reason column split into two
frames, for callers that want the quarantined rows without routing.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The fixture pipeline's content invariants, in the spec's dlq.rules shape.
# Rule order matters: an unparsable line is 'unparsed' even when it also
# lacks a tool status.
FIXTURE_DLQ_RULES = [
    {"reason": "unparsed", "when": 'pattern_id == "raw"'},
    {"reason": "missing_tool_status", "when": 'tool != "none" and status == nil'},
]


def compile_rules(rules: list[dict[str, Any]]) -> list[tuple[str, Column]]:
    """dlq.rules entries as ordered (reason, OTTL condition Column) pairs."""
    from ..functions.ottl_compiler import parse_condition

    return [(r["reason"], parse_condition(r["when"])) for r in rules]


def quarantine_reason(rules: list[tuple[str, Column]]) -> Column:
    """Ordered first-match-wins reason column; NULL = row is clean."""
    branches = [F.when(cond, F.lit(name)) for name, cond in rules]
    return F.coalesce(*branches) if branches else F.lit(None).cast("string")


def split_quarantine(
    df: DataFrame, rules: list[tuple[str, Column]], reason_col: str = "error_reason"
) -> tuple[DataFrame, DataFrame]:
    """Partition ``df`` into (accepted, quarantined).

    ``rules`` is an ordered list of (reason, bad-row condition); the
    first matching rule names the row's ``error_reason``. Accepted rows
    keep the original schema; quarantined rows carry the reason column.
    """
    tagged = df.withColumn(reason_col, quarantine_reason(rules))
    accepted = tagged.filter(F.col(reason_col).isNull()).drop(reason_col)
    quarantined = tagged.filter(F.col(reason_col).isNotNull())
    return accepted, quarantined


def fixture_rules() -> list[tuple[str, Column]]:
    """FIXTURE_DLQ_RULES compiled, for split_quarantine callers."""
    return compile_rules(FIXTURE_DLQ_RULES)
