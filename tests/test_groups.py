"""The grouped kernel's batch carry (operators/_groups.complete_groups),
without Spark: key-sorted rows cut into Arrow batches of random sizes must
come out as complete groups, each row exactly once and in order, whatever
the batch boundaries. NULL equals NULL and NaN equals NaN, as in groupBy."""

from __future__ import annotations

import itertools
import math
import random

import pyarrow as pa

from opentelemetry_collector_contrib_spark.operators._groups import bounds, complete_groups, pylist


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b and type(a) is type(b)


def _reference(keys):
    """Row indices of each group: a new group where any key differs."""
    out = []
    for i, row in enumerate(keys):
        if out and all(_same(a, b) for a, b in zip(keys[i - 1], row)):
            out[-1].append(i)
        else:
            out.append([i])
    return out


def _run(table, names, sizes):
    whole = table.combine_chunks().to_batches()[0]
    batches, pos = [], 0
    for n in itertools.cycle(sizes):  # a size of 0 feeds an empty batch
        if pos >= whole.num_rows:
            break
        batches.append(whole.slice(pos, n))
        pos += n
    got = []
    for batch, starts in complete_groups(iter(batches), names):
        assert starts[0] == 0 and starts == sorted(set(starts))
        rows = batch.column("row").to_pylist()
        got += [rows[lo:hi] for lo, hi in bounds(starts, batch.num_rows)]
    return got


def test_random_batches_yield_each_group_once():
    rng = random.Random(7)
    for _ in range(200):
        n = rng.randint(1, 80)
        a = [rng.choice([None, "a", "b", "c"]) for _ in range(n)]
        b = [rng.choice([None, 1.0, float("nan")]) for _ in range(n)]
        # Spark's ascending sort: NULL first, NaN above every number
        keys = sorted(zip(a, b), key=lambda r: (r[0] is not None, r[0] or "",
                                                 r[1] is not None, r[1] if r[1] == r[1] else 9.0))
        table = pa.table({
            "a": pa.array([r[0] for r in keys], pa.string()),
            "b": pa.array([r[1] for r in keys], pa.float64()),
            "row": list(range(n)),
        })
        sizes = [rng.randint(0, 9) for _ in range(4)] + [1]
        assert _run(table, ["a", "b"], sizes) == _reference(keys)


def test_group_spanning_many_batches_is_one_group():
    table = pa.table({"k": ["x"] * 50 + ["y"] * 3, "row": list(range(53))})
    assert _run(table, ["k"], [4]) == [list(range(50)), [50, 51, 52]]


def test_pylist_equals_to_pylist():
    # Arrow's own per-value conversion is the reference; ints above 2**53
    # next to a NULL must stay exact ints
    rng = random.Random(3)
    cases = [
        (pa.int64(), [None, 2**62 + 1, -5]),
        (pa.int32(), [None, 7]),
        (pa.float64(), [None, 1.5, float("nan")]),
        (pa.string(), [None, "a", ""]),
        (pa.binary(), [None, b"x"]),
        (pa.bool_(), [None, True, False]),
        (pa.map_(pa.string(), pa.string()), [None, {"k": "v"}, {}]),
    ]
    for typ, pool in cases:
        for _ in range(30):
            col = pa.array([rng.choice(pool) for _ in range(rng.randint(0, 12))], typ)
            col = col.slice(rng.randint(0, len(col)))
            want = col.to_pylist()
            assert all(map(_same, pylist(col), want)) and len(pylist(col)) == len(want), (typ, want)
            nan = [math.nan if v is None else v for v in want]
            assert all(map(_same, pylist(col, math.nan), nan)), (typ, want)
