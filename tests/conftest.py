from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def t1(spark):
    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    return spark.read.parquet(ensure_tier("t1"))


@pytest.fixture(scope="session")
def dims(spark):
    from opentelemetry_collector_contrib_spark.fixtures import ensure_dims

    tool_path, role_path = ensure_dims()
    return spark.read.parquet(tool_path), spark.read.parquet(role_path)


@pytest.fixture(scope="session")
def routed_t1(spark):
    from opentelemetry_collector_contrib_spark.plans.pipeline import build_routed

    return build_routed(spark, "/root/testdata/sf0.001").persist()
