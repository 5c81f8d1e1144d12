"""sqlqueryreceiver analogue: a SQL statement as a log source with
incremental tracking state.

The reference polls a database on `collection_interval`, re-running each
configured SQL statement and mapping rows to signals
(`receiver/sqlqueryreceiver/README.md`, `logs_receiver.go`):

- logs: `body_column` (required) + `attribute_columns`; a parameterized
  query (`... where id > ?`) with `tracking_column` /
  `tracking_start_value` reads each row once — after every run the
  receiver stores the tracking column's value **from the last row of the
  result set** (not the max: the docs require the query itself to sort
  ascending) and binds it on the next poll. `storage` persists the value
  across restarts.

Spark mapping: `sql_query_logs` is one poll of a logs statement. The
statement runs through `spark.sql` with the tracking value bound as a named
parameter, and the call returns the new tracking value for the caller to
bind on the next poll. The one-row `tail(1)` that reads it is the only
driver-side data access: it is the state update itself, and never scales
with input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sql_query_logs(
    spark: SparkSession,
    sql: str,
    body_column: str,
    attribute_columns: list[str] | None = None,
    *,
    tracking_column: str | None = None,
    tracking_value: str | None = None,
) -> tuple[DataFrame, str | None]:
    """One poll of a logs query. `sql` may reference the bound parameter
    as `:tracking` (Spark's named-parameter form of the reference's
    driver-specific `?`/`$1`/`:name` placeholders). Returns (rows with
    `body` + attribute columns, new tracking value or None when the
    result set was empty / untracked).

    Row -> log mapping is `logs_receiver.go`: body from body_column,
    listed attribute columns carried as attributes.
    """
    args = {"tracking": tracking_value} if ":tracking" in sql else None
    df = spark.sql(sql, args=args) if args else spark.sql(sql)
    attribute_columns = attribute_columns or []
    out_cols = [F.col(body_column).cast("string").alias("body")]
    out_cols += [F.col(c) for c in attribute_columns]
    new_tracking = None
    if tracking_column is not None:
        # value of the tracking column in the LAST row of the result set
        # (the reference requires the query to sort ascending; an unsorted
        # query has the same undefined behavior it has there)
        last = df.select(tracking_column).tail(1)
        if last:
            new_tracking = str(last[0][0])
        out_cols.append(F.col(tracking_column).alias("_tracking"))
    return df.select(*out_cols), new_tracking

