"""Tests for the container parser (+ partial-line recombine) and near-dup
connected-components clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import container, dedup


@pytest.fixture(scope="module")
def lines(spark):
    rows = [
        (1, 0, '{"log":"docker line\\n","stream":"stdout","time":"2024-01-01T00:00:01Z"}'),
        (1, 1, "2024-01-01T00:00:02.000000000Z stdout P part-a "),
        (1, 2, "2024-01-01T00:00:02.100000000Z stdout P part-b "),
        (1, 3, "2024-01-01T00:00:02.200000000Z stdout F part-c"),
        (1, 4, "2024-01-01T00:00:03.000000000Z stderr F single"),
        (2, 0, "not a container line at all"),
    ]
    return spark.createDataFrame(rows, ["src", "seq", "line"])


def test_container_format_detection(lines):
    out = {(r["src"], r["seq"]): r for r in container.container_parser(lines).collect()}
    assert out[(1, 0)]["container_format"] == "docker"
    assert out[(1, 0)]["log"] == "docker line"
    assert out[(1, 0)]["stream"] == "stdout"
    assert out[(1, 0)]["partial_flag"] == "F"
    assert out[(1, 1)]["container_format"] == "cri"
    assert out[(1, 1)]["partial_flag"] == "P"
    assert out[(1, 4)]["stream"] == "stderr"
    assert out[(2, 0)]["container_format"] == "raw"
    assert out[(2, 0)]["log"] == "not a container line at all"


def test_dup_clusters_components(spark):
    # components: {1,2,3} (chain), {5,6}, singleton 9 not in pairs
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"])
    got = {r["doc"]: r["cluster_rep"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_dup_clusters_long_chain(spark):
    # a 12-node chain needs several propagation rounds to converge
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["doc_a", "doc_b"])
    got = {r["doc"]: r["cluster_rep"] for r in dedup.dup_clusters(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13

