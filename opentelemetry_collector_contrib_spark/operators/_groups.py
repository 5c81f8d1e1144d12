"""The one grouped kernel every per-key Python fold runs on: one hash
partitioning on the keys, a sort within each partition so every group is a
contiguous run, then ``mapInArrow`` — one Python call per partition and no
pandas, so an int64 beside a NULL keeps every digit. Rows share a group
when every key is equal, NULL to NULL and NaN to NaN, as in ``groupBy``."""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _breaks(keys: list[pa.Array]) -> np.ndarray:
    """Offsets i >= 1 where some key of row i differs from row i - 1."""
    n = len(keys[0])
    out = np.zeros(n - 1, dtype=bool)
    for a in keys:
        prev, cur = a.slice(0, n - 1), a.slice(1)
        differ = pc.or_(
            pc.fill_null(pc.not_equal(prev, cur), False),
            pc.not_equal(pc.is_valid(prev), pc.is_valid(cur)),
        )
        if pa.types.is_floating(a.type):
            both_nan = pc.and_(pc.is_nan(prev), pc.is_nan(cur))
            differ = pc.and_(differ, pc.invert(pc.fill_null(both_nan, False)))
        out |= differ.to_numpy(zero_copy_only=False)
    return np.flatnonzero(out) + 1


def _concat(parts: list[pa.RecordBatch]) -> pa.RecordBatch:
    """One batch of ``parts``' rows; a single part is not copied."""
    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def complete_groups(
    batches: Iterator[pa.RecordBatch], keys: list[str]
) -> Iterator[tuple[pa.RecordBatch, list[int]]]:
    """``(batch, starts)`` per run of complete groups of key-sorted
    ``batches``. The trailing group of a batch is held back as a list of
    batches and concatenated once it completes, so it is copied once."""
    carry: list[pa.RecordBatch] = []  # the trailing, maybe unfinished group
    for batch in batches:
        if not batch.num_rows:
            continue
        cuts = _breaks([batch.column(k) for k in keys]).tolist()
        if carry:
            # row 0 opens a new group unless its keys equal the carried ones
            edge = [pa.concat_arrays([carry[-1].column(k)[-1:], batch.column(k)[:1]]) for k in keys]
            if len(_breaks(edge)):
                cuts.insert(0, 0)
        if not cuts:
            carry.append(batch)
            continue
        held = sum(b.num_rows for b in carry)
        done = _concat([*carry, batch.slice(0, cuts[-1])])
        carry = [batch.slice(cuts[-1])]
        yield done, [0, *(held + c for c in cuts[:-1])]
    if carry:
        yield _concat(carry), [0]


def group_kernel(
    df: DataFrame, keys: list[str], order: list[str | Column], schema: T.StructType | str,
    process: Callable[[pa.RecordBatch, list[int]], pa.RecordBatch],
) -> DataFrame:
    """Group ``df`` by ``keys`` in ``(keys, order)`` order and call
    ``process(batch, starts)`` on complete groups only, ``starts`` being each
    group's first row in ``batch``; it returns an Arrow batch in ``schema``."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch, starts in complete_groups(batches, keys):
            yield process(batch, starts)

    shaped = df.repartition(*keys).sortWithinPartitions(*keys, *order)
    return shaped.mapInArrow(gen, schema)


def bounds(starts: list[int], n: int) -> zip:
    """``(lo, hi)`` row range of each group in a batch of ``n`` rows."""
    return zip(starts, [*starts[1:], n])


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a Spark DDL string (parsed on the driver)."""
    return to_arrow_schema(T._parse_datatype_string(ddl))


def rows_to_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """A batch from row tuples in ``schema`` order. A NaN in an integer
    column reads as NULL, the value a NULL input takes inside a fold."""
    cols = [list(c) for c in zip(*rows)] or [[] for _ in schema]
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type, from_pandas=True) for c, f in zip(cols, schema)],
        schema=schema,
    )


def pylist(col: pa.Array, null=None) -> list:
    """``col.to_pylist()`` with NULL as ``null``; strings and NULL-free ints
    go through numpy, about 20x faster than Arrow's per-value path."""
    fast = pa.types.is_string(col.type) or pa.types.is_integer(col.type) and not col.null_count
    out = col.to_numpy(zero_copy_only=False).tolist() if fast else col.to_pylist()
    return out if null is None or not col.null_count else [null if v is None else v for v in out]
