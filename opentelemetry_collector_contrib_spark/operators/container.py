"""container parser: docker-json / containerd(CRI) / cri-o log formats.

Reference: operator/parser/container/parser.go:27-68 — auto-detects the
runtime format per line (regexes at parser.go:31-33), extracts
(time, stream, log), and internally recombines partial lines (containerd
marks them P until a final F line); here the P/F marker is surfaced as
`partial_flag` for the caller.

Formats:
  docker json : {"log":"msg\\n","stream":"stdout","time":"2024-..Z"}
  containerd  : 2024-01-01T00:00:00.000000000Z stdout P msg
  cri-o       : same shape as containerd

Spark mapping: a when-chain over rlike detectors + from_json/regexp
extraction in ONE projection (the bank pattern again).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CRI_RE = r"^(\S+Z?) (stdout|stderr) ([PF]) (.*)$"
DOCKER_RE = r'^\{.*"log".*\}$'

_DOCKER_SCHEMA = "log STRING, stream STRING, time STRING"


def container_parser(df: DataFrame, source: str = "line") -> DataFrame:
    """Adds container_format, log_time, stream, partial_flag, log."""
    s = F.col(source)
    is_docker = s.rlike(DOCKER_RE)
    is_cri = s.rlike(CRI_RE)
    docker = F.from_json(s, _DOCKER_SCHEMA)

    fmt = (
        F.when(is_docker, F.lit("docker"))
        .when(is_cri, F.lit("cri"))
        .otherwise(F.lit("raw"))
    )

    def cri_grp(i: int) -> Column:
        return F.regexp_extract(s, CRI_RE, i)

    return df.select(
        "*",
        fmt.alias("container_format"),
        F.when(is_docker, docker["time"]).when(is_cri, cri_grp(1)).alias("log_time"),
        F.when(is_docker, docker["stream"]).when(is_cri, cri_grp(2)).alias("stream"),
        # docker has no partial marker: every json line is final
        F.when(is_docker, F.lit("F")).when(is_cri, cri_grp(3)).alias("partial_flag"),
        F.when(is_docker, F.regexp_replace(docker["log"], r"\n$", ""))
        .when(is_cri, cri_grp(4))
        .otherwise(s)
        .alias("log"),
    )

