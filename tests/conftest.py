from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # PySpark's DataFrame debugging wraps every Column function call in
    # about four extra py4j round trips to record the Python call site for
    # error messages; no test reads that call site, and turning it off cut
    # the wall time of tests/test_curation.py + tests/test_plans.py by
    # 8-36% over two interleaved pairs on a 4-core host.
    s = get_spark(
        "pytest", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "false"},
    )
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
