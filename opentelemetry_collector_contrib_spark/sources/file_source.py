"""Sources: the receiver layer re-expressed as Spark scans.

filelog receiver analogue (pkg/stanza/fileconsumer/file.go:134 poll, :174
consume; receiver shim receiver/filelogreceiver/filelog.go:18-47):

  - glob include/exclude        -> path list + pathGlobFilter
  - fingerprint file identity   -> _metadata.file_path (+ Iceberg snapshot
                                   ids in production; see plans/lineage.py)
  - include_file_name/path attr -> `log_file_name` / `log_file_path` columns
  - multiline split/recombine   -> operators/recombine.recombine over
                                   (file, line_number)
  - offset checkpointing        -> plans/lineage.LineageManifest (batch) or
                                   Structured Streaming checkpointLocation
                                   (streaming/, exactly-once file progress)

The scan is the parallelism story: one task per file split, predicate
pushdown + column pruning into the reader — the reference's per-file reader
goroutines (internal/reader/reader.go:86-178) become executor tasks for
free, and a 100 TB directory tree fans out to as many splits as there are
row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def file_source(
    spark: SparkSession,
    paths: str | list[str],
    glob: str | None = None,
    include_file_name: bool = True,
    include_file_path: bool = False,
    line_numbers: bool = True,
) -> DataFrame:
    """Text-line source: one row per line with provenance columns.

    include_file_name/path mirror the filelog receiver's attributes of the
    same names; line numbering gives the stable intra-file order the
    reference gets from read offsets (reader.go:30-40 Offset)."""
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.text(paths)
    cols = [F.col("value").alias("line")]
    if include_file_name:
        cols.append(F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("log_file_name"))
    if include_file_path:
        cols.append(F.col("_metadata.file_path").alias("log_file_path"))
    out = df.select(*cols, "_metadata.file_path")
    if line_numbers:
        from pyspark.sql import Window

        # monotonically_increasing_id is read-order within a split; exact
        # global line numbers require one split per file (fine for log-sized
        # files; a multi-GB single file should be split upstream anyway)
        w = Window.partitionBy("file_path").orderBy(F.monotonically_increasing_id())
        out = out.withColumn("line_number", F.row_number().over(w))
    return out.drop("file_path")


def json_file_source(spark: SparkSession, paths: str | list[str], schema: T.StructType | str | None = None) -> DataFrame:
    """JSON-lines source (the fileexporter's default output format —
    exporter/fileexporter/marshaller.go — read back)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def csv_file_source(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType | str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(paths)


def kafka_source_options(
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Option dict for the built-in Kafka source (receiver/kafkareceiver
    analogue): spark.readStream.format('kafka').options(**these). Kept as a
    config builder — no broker exists in-sandbox; the returned options are
    the complete contract."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def generate_source(
    spark: SparkSession,
    count: int,
    entry: dict[str, object],
    static: bool = True,
) -> DataFrame:
    """stanza generate input analogue (pkg/stanza/operator/input/generate):
    emit `count` copies of a static entry — the reference uses it to feed
    benchmark/e2e pipelines without a real receiver. spark.range gives a
    parallel, deterministic id column (the reference's sequence counter when
    static=False); the entry body/attrs become literal projections, so the
    whole source is a zero-shuffle codegen stage at any count."""
    df = spark.range(int(count)).withColumnRenamed("id", "seq")
    for k, v in entry.items():
        df = df.withColumn(k, F.lit(v))
    if static:
        df = df.drop("seq")
    return df


WIRE_DECODERS = {
    "fluent_forward": ("opentelemetry_collector_contrib_spark.operators.fluent", "parse_fluent_forward"),
    "otlp_pb_logs": ("opentelemetry_collector_contrib_spark.operators.otlp_pb", "parse_otlp_pb_logs"),
    "otlp_pb_traces": ("opentelemetry_collector_contrib_spark.operators.otlp_pb", "parse_otlp_pb_traces"),
    "otlp_pb_metrics": ("opentelemetry_collector_contrib_spark.operators.otlp_pb", "parse_otlp_pb_metrics"),
    "avro": ("opentelemetry_collector_contrib_spark.operators.avro", "parse_avro"),
    "cloudwatch": (
        "opentelemetry_collector_contrib_spark.operators.parse",
        "parse_cloudwatch_subscription",
    ),
    "cloudtrail": ("opentelemetry_collector_contrib_spark.operators.parse", "parse_cloudtrail"),
    "firehose": ("opentelemetry_collector_contrib_spark.operators.parse", "parse_firehose_envelope"),
    "netflow_v5": ("opentelemetry_collector_contrib_spark.operators.netflow", "parse_netflow_v5"),
    "netflow_v9": ("opentelemetry_collector_contrib_spark.operators.netflow", "parse_netflow_v9"),
    "ipfix": ("opentelemetry_collector_contrib_spark.operators.netflow", "parse_ipfix"),
    "sflow": ("opentelemetry_collector_contrib_spark.operators.netflow", "parse_sflow"),
}


def wire_spool_source(
    spark: SparkSession,
    path: str,
    wire: str,
    payload_col: str = "payload",
    streaming: bool = False,
    schema: T.StructType | str | None = None,
    **decoder_kwargs,
) -> DataFrame:
    """Binary-wire receiver surface: a parquet spool of framed payloads
    (one row per event/request — how the network bridges land data) read
    as a batch OR stream and pushed through the named decoder. This is
    the batch-table mirror of the reference's receiver lifecycle: the
    transport half is the spool writer; the decode half is identical
    between `spark.read` and `spark.readStream` (agreement pinned by
    tests/test_fluent.py::test_fluent_and_otlp_pb_stream_equals_batch).
    `wire` is one of WIRE_DECODERS; avro additionally needs
    `schema_json=`."""
    import importlib

    if wire not in WIRE_DECODERS:
        raise ValueError(f"unknown wire format {wire!r} (have {sorted(WIRE_DECODERS)})")
    mod_name, fn_name = WIRE_DECODERS[wire]
    decode = getattr(importlib.import_module(mod_name), fn_name)
    if streaming:
        if schema is None:
            schema = spark.read.parquet(path).schema  # infer once from the spool
        df = spark.readStream.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    return decode(df, payload_col, **decoder_kwargs)


def filelog_header_metadata(
    df: DataFrame,
    header_pattern: str,
    metadata_regex: str,
    file_col: str = "file_name",
    line_col: str = "line_no",
    text_col: str = "text",
    out_col: str = "header_attrs",
) -> DataFrame:
    """filelog header metadata parsing (pkg/stanza/fileconsumer/internal/
    header/reader.go + filelogreceiver README "header" section, behind the
    `filelog.allowHeaderMetadataParsing` gate): the header is the maximal
    PREFIX of lines matching `header_pattern`; each header line runs
    through the metadata pipeline — here a single regex with named
    captures, the README's canonical regex_parser shape — and the per-line
    attributes merge with an UPSERT (later lines win per key). Header
    lines are not emitted; every data line of the file carries the merged
    attributes.

    Adds `out_col` as map<string,string> (absent captures omitted; files
    with no header get an empty map). Shape: one per-file prefix window
    (running AND of the pattern match), one per-file aggregation for the
    merged attrs, one equi-join back on the file key — everything keyed
    by file, so a 10^9-file corpus spreads evenly."""
    import re as _re

    # group NUMBERS count every capturing group (named or not), so an
    # outer alternation group shifts the named groups' indices — walk the
    # pattern and assign real indices instead of assuming 1..n
    def _group_indices(pattern: str) -> dict[str, int]:
        out: dict[str, int] = {}
        idx = i = 0
        while i < len(pattern):
            c = pattern[i]
            if c == "\\":
                i += 2
                continue
            if c == "[":  # character class: '(' inside is literal
                i += 1
                while i < len(pattern) and pattern[i] != "]":
                    i += 2 if pattern[i] == "\\" else 1
                i += 1
                continue
            if c == "(":
                if pattern[i : i + 2] == "(?":
                    m = _re.match(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>", pattern[i:])
                    if m:
                        idx += 1
                        out[m.group(1)] = idx
                    # other (?...) forms are non-capturing
                else:
                    idx += 1
            i += 1
        return out

    indices = _group_indices(metadata_regex)
    if not indices:
        raise ValueError("metadata_regex needs at least one named capture group")
    java_re = metadata_regex.replace("(?P<", "(?<")

    from pyspark.sql import Window

    w = (
        Window.partitionBy(file_col)
        .orderBy(line_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.withColumn(
        "_is_hdr",
        F.min(F.when(F.col(text_col).rlike(header_pattern), 1).otherwise(0)).over(w) == 1,
    )
    hdr = flagged.filter(F.col("_is_hdr"))
    # upsert: per capture key, the value from the LAST header line where
    # the group participated (non-empty extract)
    aggs = []
    for k, gi in indices.items():
        v = F.regexp_extract(F.col(text_col), java_re, gi)
        aggs.append(
            F.max_by(F.when(v != "", v), F.when(v != "", F.col(line_col))).alias(f"_h_{k}")
        )
    merged = hdr.groupBy(file_col).agg(*aggs)
    entries = F.filter(
        F.array(
            *[
                F.struct(F.lit(k).alias("k"), F.col(f"_h_{k}").alias("v"))
                for k in indices
            ]
        ),
        lambda e: e["v"].isNotNull(),
    )
    merged = merged.select(file_col, F.map_from_entries(entries).alias(out_col))
    return (
        flagged.filter(~F.col("_is_hdr"))
        .drop("_is_hdr")
        .join(merged, file_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.create_map().cast("map<string,string>")))
    )

