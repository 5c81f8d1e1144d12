"""Prometheus naming translator tables — mirrors
pkg/translator/prometheus/normalize_name_test.go,
normalize_label_test.go (both feature-gate settings)."""

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.prom_translate import (
    prom_normalize_label,
    prometheus_names,
)

# (name, unit, type, monotonic, expected) — normalize_name_test.go:14-101
NORMALIZE_VECTORS = [
    ("system.filesystem.usage", "By", "gauge", False, "system_filesystem_usage_bytes"),
    ("system.io", "By", "sum", True, "system_io_bytes_total"),
    ("network_transmitted_bytes_total", "By", "sum", True, "network_transmitted_bytes_total"),
    ("\t system.filesystem.usage       ", "  By\t", "gauge", False, "system_filesystem_usage_bytes"),
    ("system.network.dropped", "{packets}", "gauge", False, "system_network_dropped"),
    ("system.network.dropped", "{packets}", "sum", True, "system_network_dropped_total"),
    ("system.network.dropped", "packets", "gauge", False, "system_network_dropped_packets"),
    ("system.network.packets.dropped", "packets", "gauge", False, "system_network_packets_dropped"),
    ("system.network.packets", "packets", "gauge", False, "system_network_packets"),
    ("system.network.dropped", "packets", "sum", True, "system_network_dropped_packets_total"),
    ("system.network.packets", "packets", "sum", True, "system_network_packets_total"),
    ("hw.gpu.memory.utilization", "1", "gauge", False, "hw_gpu_memory_utilization_ratio"),
    ("hw.fan.speed_ratio", "1", "gauge", False, "hw_fan_speed_ratio"),
    ("objects", "1", "sum", True, "objects_total"),
    ("hw.cpu.speed_limit", "Hz", "gauge", False, "hw_cpu_speed_limit_hertz"),
    ("broken.metric.speed", "km/h", "gauge", False, "broken_metric_speed_km_per_hour"),
    ("astro.light.speed_limit", "m/s", "gauge", False, "astro_light_speed_limit_meters_per_second"),
    ("broken.metric.success_ratio", "%", "gauge", False, "broken_metric_success_ratio_percent"),
    ("broken.metric.success_percent", "%", "gauge", False, "broken_metric_success_percent"),
    ("test.metric.no_unit", "", "gauge", False, "test_metric_no_unit"),
    ("test.metric.spaces", "   \t  ", "gauge", False, "test_metric_spaces"),
    ("unsupported.metric.temperature", "°F", "gauge", False, "unsupported_metric_temperature_F"),
    ("unsupported.metric.weird", "+=.:,!* & #", "gauge", False, "unsupported_metric_weird"),
    ("unsupported.metric.redundant", "__test $/°C", "gauge", False, "unsupported_metric_redundant_test_per_C"),
    ("active_directory.ds.replication.network.io", "By", "sum", True, "active_directory_ds_replication_network_io_bytes_total"),
    ("active_directory.ds.replication.object.rate", "{objects}/s", "gauge", False, "active_directory_ds_replication_object_rate_per_second"),
    ("active_directory.ds.name_cache.hit_rate", "%", "gauge", False, "active_directory_ds_name_cache_hit_rate_percent"),
    ("apache.current_connections", "connections", "gauge", False, "apache_current_connections"),
    ("apache.workers", "connections", "gauge", False, "apache_workers_connections"),
    ("apache.requests", "1", "sum", True, "apache_requests_total"),
    ("system.cpu.utilization", "1", "gauge", False, "system_cpu_utilization_ratio"),
    ("system.disk.operation_time", "s", "sum", True, "system_disk_operation_time_seconds_total"),
    ("system.cpu.load_average.15m", "1", "gauge", False, "system_cpu_load_average_15m_ratio"),
    ("memcached.operation_hit_ratio", "%", "gauge", False, "memcached_operation_hit_ratio_percent"),
    ("mongodbatlas.process.asserts", "{assertions}/s", "gauge", False, "mongodbatlas_process_asserts_per_second"),
    ("mongodbatlas.process.journaling.data_files", "MiBy", "gauge", False, "mongodbatlas_process_journaling_data_files_mebibytes"),
    ("mongodbatlas.process.network.io", "By/s", "gauge", False, "mongodbatlas_process_network_io_bytes_per_second"),
    ("mongodbatlas.process.oplog.rate", "GiBy/h", "gauge", False, "mongodbatlas_process_oplog_rate_gibibytes_per_hour"),
    ("mongodbatlas.process.db.query_targeting.scanned_per_returned", "{scanned}/{returned}", "gauge", False, "mongodbatlas_process_db_query_targeting_scanned_per_returned"),
    ("nginx.requests", "requests", "gauge", False, "nginx_requests"),
    ("nsxt.node.memory.usage", "KBy", "gauge", False, "nsxt_node_memory_usage_kilobytes"),
    ("redis.latest_fork", "us", "gauge", False, "redis_latest_fork_microseconds"),
    ("3.14 digits", "", "gauge", False, "_3_14_digits"),
    ("envoy__rule_engine_zlib_buf_error", "", "gauge", False, "envoy_rule_engine_zlib_buf_error"),
    (":foo::bar", "", "gauge", False, "foo_bar"),
    (":foo::bar", "", "sum", True, "foo_bar_total"),
]


def test_normalize_name_table(spark):
    df = spark.createDataFrame(
        [(i, n, u, t, m) for i, (n, u, t, m, _) in enumerate(NORMALIZE_VECTORS)],
        "i int, metric_name string, unit string, metric_type string, is_monotonic boolean",
    )
    got = {r["i"]: r["prom_name"] for r in prometheus_names(df).collect()}
    for i, (n, u, t, m, want) in enumerate(NORMALIZE_VECTORS):
        assert got[i] == want, f"{n!r}/{u!r}/{t}: {got[i]!r} != {want!r}"


def test_namespace_and_no_suffix_paths(spark):
    df = spark.createDataFrame(
        [(0, "test", "", "gauge", False), (1, "#test", "", "gauge", False)],
        "i int, metric_name string, unit string, metric_type string, is_monotonic boolean",
    )
    got = {r["i"]: r["prom_name"] for r in prometheus_names(df, namespace="space").collect()}
    assert got[0] == "space_test" and got[1] == "space_test"
    # add_suffixes=False keeps ':' and '_', no unit/type suffixes
    df2 = spark.createDataFrame(
        [(0, "foo::bar_total", "By", "sum", True), (1, "3.14", "", "gauge", False)],
        "i int, metric_name string, unit string, metric_type string, is_monotonic boolean",
    )
    got2 = {r["i"]: r["prom_name"] for r in prometheus_names(df2, add_suffixes=False).collect()}
    assert got2[0] == "foo::bar_total"
    assert got2[1] == "_3_14"


# (promName, type, unit, expected) — normalize_name_test.go:103-131
TRIM_VECTORS = [
    ("active_directory_ds_replication_network_io_bytes_total", "sum", "bytes", "active_directory_ds_replication_network_io"),
    ("active_directory_ds_name_cache_hit_rate_percent", "gauge", "percent", "active_directory_ds_name_cache_hit_rate"),
    ("apache_requests_total", "sum", "1", "apache_requests"),
    ("system_cpu_utilization_ratio", "gauge", "ratio", "system_cpu_utilization"),
    ("mongodbatlas_process_network_io_bytes_per_second", "gauge", "bytes_per_second", "mongodbatlas_process_network_io"),
    ("nsxt_node_memory_usage_kilobytes", "gauge", "kilobytes", "nsxt_node_memory_usage"),
    ("up", "gauge", "", "up"),
    ("active_directory_ds_replication_sync_object_pending_total", "sum", "{objects}", "active_directory_ds_replication_sync_object_pending"),
    ("apache_current_connections", "gauge", "connections", "apache_current"),
    ("nginx_requests", "gauge", "requests", "nginx"),
    ("apache_workers_connections", "gauge", "connections", "apache_workers"),
    ("system_cpu_load_average_15m_ratio", "gauge", "1", "system_cpu_load_average_15m_ratio"),
    ("mongodbatlas_process_asserts_per_second", "gauge", "{assertions}/s", "mongodbatlas_process_asserts_per_second"),
    ("memcached_operation_hit_ratio_percent", "gauge", "%", "memcached_operation_hit_ratio_percent"),
    ("system_disk_operation_time_seconds_total", "sum", "s", "system_disk_operation_time_seconds"),
]


def test_normalize_label_both_gates(spark):
    rows = ["", "_test", "0test", "test", "test_/", "__test"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(rows)], "i int, s string")
    strict = {r["i"]: r["o"] for r in df.select("i", prom_normalize_label(F.col("s")).alias("o")).collect()}
    assert [strict[i] for i in range(6)] == ["", "key_test", "key_0test", "test", "test__", "__test"]
    perm = {
        r["i"]: r["o"]
        for r in df.select("i", prom_normalize_label(F.col("s"), drop_sanitization=True).alias("o")).collect()
    }
    assert [perm[i] for i in range(6)] == ["", "_test", "key_0test", "test", "test__", "__test"]


def test_histogram_to_prw_series_expansion(spark):
    import pytest as pt

    from opentelemetry_collector_contrib_spark.operators.prom_translate import (
        histogram_to_prw_series,
    )

    rows = [
        # (name, count, sum, counts_csv, bounds_csv)
        (0, "lat", 6, 2.5, "1,2,3", "0.5,1.0"),     # normal: 2 bounds, 3 counts
        (1, "lat", 4, None, "4", "1.0"),            # no sum -> _sum omitted
        (2, "lat", 0, 0.0, "", ""),                 # no buckets -> count + +Inf only
        (3, "lat", 5, 1.0, "2,3", "1.0,2.0,9.0"),   # bounds longer than counts -> trim
    ]
    df = spark.createDataFrame(
        rows, "i int, hh_name string, hh_count long, hh_sum double, "
              "hh_bucket_counts_csv string, hh_bounds_csv string"
    )
    got = {}
    for r in histogram_to_prw_series(df).collect():
        got.setdefault(r["i"], []).append((r["series"], r["le"], r["value"]))
    assert got[0] == [
        ("lat_sum", None, 2.5), ("lat_count", None, 6.0),
        ("lat_bucket", "0.5", 1.0), ("lat_bucket", "1.0", 3.0),  # CUMULATIVE
        ("lat_bucket", "+Inf", 6.0),
    ]
    assert got[1] == [("lat_count", None, 4.0), ("lat_bucket", "1.0", 4.0), ("lat_bucket", "+Inf", 4.0)]
    assert got[2] == [("lat_sum", None, 0.0), ("lat_count", None, 0.0), ("lat_bucket", "+Inf", 0.0)]
    # reference loop stops at min(len(bounds), len(counts)): bound 9.0 never emits
    assert got[3] == [
        ("lat_sum", None, 1.0), ("lat_count", None, 5.0),
        ("lat_bucket", "1.0", 2.0), ("lat_bucket", "2.0", 5.0), ("lat_bucket", "+Inf", 5.0),
    ]
    # output-name collision fails loudly
    with pt.raises(ValueError):
        histogram_to_prw_series(df.withColumn("value", F.lit(1)))


def test_summary_to_prw_series_expansion(spark):
    from opentelemetry_collector_contrib_spark.operators.prom_translate import (
        summary_to_prw_series,
    )

    df = spark.createDataFrame(
        [(0, "rpc", 4, 10.5, "0.5:12,0.99:30"), (1, "rpc", 0, 0.0, None)],
        "i int, metric_name string, s_count long, s_sum double, quantiles_csv string",
    )
    got = {}
    for r in summary_to_prw_series(df).collect():
        got.setdefault(r["i"], []).append((r["series"], r["quantile"], r["value"]))
    assert got[0] == [
        ("rpc_sum", None, 10.5), ("rpc_count", None, 4.0),
        ("rpc", "0.5", 12.0), ("rpc", "0.99", 30.0),
    ]
    assert got[1] == [("rpc_sum", None, 0.0), ("rpc_count", None, 0.0)]


# --- exponential → native histogram layout (histograms_test.go:26-280) --------

LAYOUT_VECTORS = [
    # (offset, counts, scale_down, want_spans, want_deltas)
    (0, [4, 3, 2, 1], 0, [(1, 4)], [4, -1, -1, -1]),
    (0, [4, 3, 2, 1], 1, [(1, 2)], [7, -4]),
    (0, [4, 3, 2, 1], 2, [(1, 1)], [10]),
    (1, [4, 3, 2, 1], 0, [(2, 4)], [4, -1, -1, -1]),
    (1, [4, 3, 2, 1], 1, [(1, 3)], [4, 1, -4]),
    (1, [4, 3, 2, 1], 2, [(1, 2)], [9, -8]),
    (4, [4, 2, 0, 2] + [0] * 12 + [1], 0, [(5, 4), (12, 1)], [4, -2, -2, 2, -1]),
    (4, [4, 2, 0, 2] + [0] * 8 + [1], 0, [(5, 4), (8, 1)], [4, -2, -2, 2, -1]),
    (4, [4, 2, 0, 2] + [0] * 8 + [1], 1, [(3, 2), (4, 1)], [6, -4, -1]),
    (4, [4, 2, 0, 2] + [0] * 8 + [1], 2, [(2, 4)], [8, -8, 0, 1]),
    (-2, [3, 1, 0, 0, 0, 1], 0, [(-1, 2), (3, 1)], [3, -2, 0]),
    (-2, [3, 1, 0, 0, 0, 1], 1, [(0, 3)], [4, -4, 1]),
    (-2, [3, 1, 0, 0, 0, 1], 2, [(0, 2)], [4, -3]),
    (-2, [3, 1, 0, 1, 0, 1], 0, [(-1, 6)], [3, -2, -1, 1, -1, 1]),
    (0, [], 0, [], []),
]

