"""SparkSession factory tuned for the transcript pipeline.

Scale posture (designed for a 1000-executor cluster over ~100 TB; tested on
local[N]):
  - AQE on, incl. skew-join splitting (the reference has no skew handling at
    all — a hot conversation lands on one goroutine, see SURVEY.md §4; we get
    runtime re-planning for free).
  - Arrow enabled for every pandas-UDF boundary (the vectorized parse stage).
  - shuffle partitions sized by env so the same code runs local[8]/local[32]
    and on a real cluster (where you'd set it to ~2-3x total cores).
  - broadcast threshold generous: all enrich dimensions (tool/role lookups)
    are tiny, mirroring lookupprocessor's in-memory maps.
  - PySpark's DataFrame debugging off: with it on, every Column function
    call makes about four extra py4j round trips to record its Python call
    site. What is lost is that Python file and line in the query context
    of an error message. Pass
    ``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` in
    ``extra_conf`` to get it back.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "otel-contrib-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # heuristic: match parallelism on local mode; on a cluster set explicitly
        if master.startswith("local["):
            n = master[len("local[") : -1]
            shuffle_partitions = 64 if n == "*" else max(8, 2 * int(n))
        else:
            shuffle_partitions = 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Align whole-stage-codegen fallback with HotSpot's JIT ceiling:
        # methods over ~8000 bytecodes are never JIT-compiled
        # (-XX:DontCompileHugeMethods), so a fused stage between 8K and the
        # 64K default limit runs INTERPRETED — measured 2.5x slower on the
        # deeply-stacked sampling projections. Falling back to per-operator
        # codegen keeps every method JIT-able.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
