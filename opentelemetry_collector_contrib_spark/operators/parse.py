"""Parse stage: stanza parser operators re-expressed columnar.

Reference semantics
  - regex_parser: named-capture regex → map, compiled ONCE at Build()
    (pkg/stanza/operator/parser/regex/config.go:58-60, parser.go:16-67)
  - ExtractGrokPatterns: compile-once when literal
    (pkg/ottl/ottlfuncs/func_extract_grok_patterns.go:70-77)
  - json_parser with number fidelity (operator/parser/jsonparser/parser.go:62-95)
  - key_value_parser (operator/parser/keyvalue/parser.go:15-52)
  - stanza router first-match-wins (operator/transformer/router/transformer.go:59-66)
  - on_error policy → here an `_unparsed` passthrough (pattern_id = 'raw')

Two interchangeable implementations of the same pattern bank:

  parse_native(df)      — pure Catalyst: regexp_extract / from_json /
                          str_to_map inside whole-stage codegen. Patterns are
                          literals, so Catalyst constant-folds the compile.
                          This is the default (fastest) path.
  parse_vectorized(df)  — mapInPandas over Arrow batches; the pattern bank is
                          compiled once per executor at UDF-module import
                          (mirroring compile-once), never per row. Exists for
                          grok-style patterns Spark's regex dialect can't
                          express; semantics identical on the fixture bank.

Output schema (both): input columns + pattern_id, sev, latency_ms, status,
event_name, tokens, model, component, message, log_ts — promoted typed
columns, not a map (columnar pruning beats map lookups at 10^12 rows,
SURVEY.md §1.4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The pattern bank. First match wins (stanza router order semantics).
# Each entry: (pattern_id, regex with groups, [field names by group index]).
KV_RE = r"^LOG lvl=(\w+) tool=(\w+) latency_ms=(\d+) status=(ok|err)$"
SYSLOG_RE = r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}) \[(\w+)\] (\w+): (.*)$"
JSON_RE = r'^\{"event":"(\w+)","tokens":(\d+),"model":"([\w-]+)"\}$'

PARSED_FIELDS: list[tuple[str, str]] = [
    ("pattern_id", "string"),
    ("sev", "string"),       # raw severity text as found (kv lower / syslog upper)
    ("latency_ms", "bigint"),
    ("status", "string"),
    ("event_name", "string"),
    ("tokens", "bigint"),
    ("model", "string"),
    ("component", "string"),
    ("message", "string"),
    ("log_ts", "string"),    # ISO string from syslog template; parse downstream
]


def parse_native(df: DataFrame, text_col: str = "text") -> DataFrame:
    """First-match pattern bank as a single Catalyst projection.

    Per-group `regexp_extract` re-runs the whole regex once per group (the
    kv+syslog+json bank would cost up to 13 executions/row). Instead each
    output field reads `split(regexp_replace(text, pat, '$1\\x01$2...'))[i]`
    — a full-line anchored pattern rewrites the line to its groups joined
    by an \\x01 separator, and the split picks one group. The when-chains
    do not share that replace+split: the optimized plan and the generated
    code hold 10 `regexp_replace` sites, one per output field. rlike gates
    per pattern, so a matched row pays 1–3 rlike plus one replace+split
    per field its pattern fills (3 for kv and json, 4 for syslog). Values
    are byte-identical to per-group extraction (same regex, same groups) —
    the oracle contract is unchanged.

    Separator-collision guard: `SYSLOG_RE`'s message group is `(.*)`, so a
    payload containing a literal \\x01 byte would shift every field after
    the split. Rows containing the separator take a per-group
    `regexp_extract` branch in the same projection instead — the fast path
    stays one-regex-per-pattern for the (overwhelming) \\x01-free case,
    and adversarial bytes can never corrupt fields."""
    t = F.col(text_col)
    is_kv = t.rlike(KV_RE)
    is_syslog = t.rlike(SYSLOG_RE)
    is_json = t.rlike(JSON_RE)

    SEP = "\x01"
    sep_free = ~t.contains(SEP)

    def grp_split(regex: str, n_groups: int, guard: bool = False) -> list[Column]:
        tpl = SEP.join(f"${i}" for i in range(1, n_groups + 1))
        arr = F.split(F.regexp_replace(t, regex, tpl), SEP)
        if not guard:
            return [arr[i - 1] for i in range(1, n_groups + 1)]
        return [
            F.when(sep_free, arr[i - 1]).otherwise(F.regexp_extract(t, regex, i))
            for i in range(1, n_groups + 1)
        ]

    # only SYSLOG_RE needs the guard: its message group is (.*), the one
    # capture class that can contain \x01; every KV/JSON group is a
    # \w/\d/[\w-] class that cannot, and a \x01 anywhere in the line makes
    # those full-line-anchored patterns unmatched entirely
    kv = grp_split(KV_RE, 4)                    # sev, tool, latency_ms, status
    sl = grp_split(SYSLOG_RE, 4, guard=True)    # log_ts, sev, component, message
    js = grp_split(JSON_RE, 3)                  # event_name, tokens, model

    pattern_id = (
        F.when(is_kv, F.lit("kv"))
        .when(is_syslog, F.lit("syslog"))
        .when(is_json, F.lit("json"))
        .otherwise(F.lit("raw"))
    )
    return df.select(
        "*",
        pattern_id.alias("pattern_id"),
        F.when(is_kv, kv[0]).when(is_syslog, sl[1]).alias("sev"),
        F.when(is_kv, kv[2].cast("bigint")).alias("latency_ms"),
        F.when(is_kv, kv[3]).alias("status"),
        F.when(is_json, js[0]).alias("event_name"),
        F.when(is_json, js[1].cast("bigint")).alias("tokens"),
        F.when(is_json, js[2]).alias("model"),
        F.when(is_syslog, sl[2]).alias("component"),
        F.when(is_syslog, sl[3]).alias("message"),
        F.when(is_syslog, sl[0]).alias("log_ts"),
    )


# ---------------------------------------------------------------------------
# Vectorized pandas/Arrow path. The bank is compiled at module import — i.e.
# once per executor process when the UDF module is shipped — mirroring
# func_extract_grok_patterns.go:70-77 ("compiled once when pattern is a
# literal"). Never per row, never per batch.
# ---------------------------------------------------------------------------
import re as _re  # noqa: E402

_COMPILED_BANK = [
    ("kv", _re.compile(KV_RE), ["sev", "_tool", "latency_ms", "status"]),
    ("syslog", _re.compile(SYSLOG_RE), ["log_ts", "sev", "component", "message"]),
    ("json", _re.compile(JSON_RE), ["event_name", "tokens", "model"]),
]

_OUT_FIELD_NAMES = [f for f, _ in PARSED_FIELDS]


def _parse_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized first-match extraction over one Arrow batch.

    Uses pandas .str.extract (C-loop regex over the whole column) per
    pattern, masked to rows not yet matched — each row is regex-tested at
    most len(bank) times and extracted once, columnar throughout.
    """
    n = len(texts)
    out = pd.DataFrame(index=texts.index)
    out["pattern_id"] = pd.array(["raw"] * n, dtype="string")
    for name in _OUT_FIELD_NAMES[1:]:
        out[name] = pd.array([None] * n, dtype="string")
    unmatched = pd.Series(True, index=texts.index)
    for pid, creg, fields in _COMPILED_BANK:
        if not unmatched.any():
            break
        sub = texts[unmatched]
        ext = sub.str.extract(creg)
        hit = ext[0].notna() if 0 in ext.columns else ext.iloc[:, 0].notna()
        hit_idx = ext.index[hit]
        if len(hit_idx) == 0:
            continue
        out.loc[hit_idx, "pattern_id"] = pid
        for gi, fname in enumerate(fields):
            if fname.startswith("_"):
                continue
            out.loc[hit_idx, fname] = ext.loc[hit_idx, gi].astype("string")
        unmatched.loc[hit_idx] = False
    return out


def parse_vectorized(df: DataFrame, text_col: str = "text") -> DataFrame:
    """mapInPandas pattern-bank parse; schema identical to parse_native.

    A second engine kept on the surface: the spec's `parse.bank:
    vectorized` (`job.py --vectorized`), registry query
    `vectorized_parse_parity` and bench q5 run it."""
    in_fields = df.schema.fields
    out_schema = T.StructType(
        list(in_fields)
        + [T.StructField(f, T.StringType() if t == "string" else T.LongType(), True) for f, t in PARSED_FIELDS]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = _parse_batch(pdf[text_col])
            for f, t in PARSED_FIELDS:
                col = parsed[f]
                if t == "bigint":
                    col = pd.to_numeric(col, errors="coerce").astype("Int64")
                pdf[f] = col
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


# --- standalone parser operators (stanza 1:1) -------------------------------

def regex_parser(df: DataFrame, source: str, pattern: str, fields: list[str]) -> DataFrame:
    """operator/parser/regex/parser.go:16-67 — named groups → typed columns."""
    out = df
    for i, f_name in enumerate(fields, start=1):
        out = out.withColumn(f_name, F.regexp_extract(F.col(source), pattern, i))
    return out


def key_value_parser(df: DataFrame, source: str, dest: str = "kv", pair_delim: str = " ", kv_delim: str = "=") -> DataFrame:
    """operator/parser/keyvalue/parser.go:15-52 → str_to_map."""
    return df.withColumn(dest, F.str_to_map(F.col(source), F.lit(pair_delim), F.lit(kv_delim)))


def json_parser(df: DataFrame, source: str, schema: T.StructType | str, dest: str = "parsed_json") -> DataFrame:
    """operator/parser/jsonparser/parser.go — from_json with explicit schema
    (number fidelity comes from declaring long vs double in the schema)."""
    return df.withColumn(dest, F.from_json(F.col(source), schema))


def csv_parser(df: DataFrame, source: str, schema: str, sep: str = ",", dest: str = "parsed_csv") -> DataFrame:
    """operator/parser/csv/parser.go → from_csv."""
    return df.withColumn(dest, F.from_csv(F.col(source), schema, {"sep": sep}))


def uri_parser(df: DataFrame, source: str) -> DataFrame:
    """operator/parser/uri/parser.go → parse_url family."""
    s = F.col(source)
    return df.select(
        "*",
        F.parse_url(s, F.lit("PROTOCOL")).alias("uri_scheme"),
        F.parse_url(s, F.lit("HOST")).alias("uri_host"),
        F.parse_url(s, F.lit("PATH")).alias("uri_path"),
        F.parse_url(s, F.lit("QUERY")).alias("uri_query"),
    )


# severity alias map — helper/severity_builder.go:75-84 presets
SEVERITY_ALIASES: dict[str, str] = {
    "trace": "TRACE", "debug": "DEBUG", "info": "INFO", "information": "INFO",
    "notice": "INFO", "warn": "WARN", "warning": "WARN",
    "err": "ERROR", "error": "ERROR", "fatal": "FATAL", "critical": "FATAL",
    "emerg": "FATAL", "panic": "FATAL",
}

SEVERITY_NUMBERS: dict[str, int] = {
    "TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21,
}


def _severity_value_cond(src: Column, value) -> Column:
    """One parseable mapping value → predicate (severity_builder.go:200-226
    parseableValues): '2xx'..'5xx' HTTP presets are 100-wide numeric
    ranges, ints match their decimal string, {'min','max'} dicts are
    ranges, anything else is a lowercase literal. Ranges compare
    numerically on all-digit strings — the columnar equivalent of the
    reference expanding the range into literal strings."""
    http = {"2xx": (200, 299), "3xx": (300, 399), "4xx": (400, 499), "5xx": (500, 599)}
    if isinstance(value, str) and value in http:
        lo, hi = http[value]
    elif isinstance(value, dict) and "min" in value and "max" in value:
        lo, hi = int(value["min"]), int(value["max"])
    elif isinstance(value, int):
        return src == F.lit(str(value))
    else:
        return src == F.lit(str(value).lower())
    # try_cast: an all-digit run longer than int range (trace ids, epoch
    # nanos) is NULL here, not an ANSI-mode job abort
    as_num = F.when(src.rlike(r"^\d+$"), src.try_cast("int"))
    return as_num.between(lo, hi)


def severity_parser(
    df: DataFrame,
    source: str,
    text_dest: str = "severity_text",
    num_dest: str = "severity_number",
    mapping: dict[str, list] | None = None,
) -> DataFrame:
    """operator/parser/severity/parser.go — alias → enum via a CASE chain
    (a literal map lookup stays inside codegen; no join, no UDF).

    `mapping` extends/overrides the builtin aliases exactly like the
    stanza severity config block: {"error": ["4xx"], "info": ["2xx", 250]}
    maps HTTP status classes / ints / custom strings to severities, with
    custom entries winning over the builtin aliases
    (severity_builder.go:95-105 HTTP presets, :170-186 default mapping)."""
    src = F.lower(F.col(source))
    # build so custom mapping wins first, then builtin aliases
    chain = F.when(F.lit(False), F.lit(None).cast("string"))
    for canon, values in (mapping or {}).items():
        cond = F.lit(False)
        for v in values:
            cond = cond | _severity_value_cond(src, v)
        chain = chain.when(cond, F.lit(canon.upper()))
    for alias, canon in SEVERITY_ALIASES.items():
        chain = chain.when(src == alias, F.lit(canon))
    chain = chain.otherwise(F.lit(None).cast("string"))
    num = F.when(F.lit(False), F.lit(None).cast("int"))
    for canon, n in SEVERITY_NUMBERS.items():
        num = num.when(chain == canon, F.lit(n))
    return df.withColumn(text_dest, chain).withColumn(num_dest, num.otherwise(F.lit(0)).cast("int"))


def time_parser(df: DataFrame, source: str, fmt: str = "yyyy-MM-dd'T'HH:mm:ss", dest: str = "event_ts") -> DataFrame:
    """Native-pattern timestamp parse; strptime/epoch layout types live in
    time_parser_layout (operator/helper/time.go:24-47). try_to_timestamp:
    an unparsable value nulls the row instead of aborting the job under
    ANSI mode (on_error=send)."""
    return df.withColumn(dest, F.try_to_timestamp(F.col(source), F.lit(fmt)))


def jsonarray_parser(df: DataFrame, source: str, element_type: str = "string", dest: str = "parsed_array") -> DataFrame:
    """operator/parser/jsonarray/parser.go — a JSON array string → typed
    array column (from_json with ArrayType); pair with transform.unroll to
    get the reference's one-entry-per-element shape."""
    return df.withColumn(dest, F.from_json(F.col(source), f"array<{element_type}>"))


def sanitize_utf8(df: DataFrame, source: str, dest: str | None = None, flag_col: str = "utf8_valid") -> DataFrame:
    """operator/transformer/sanitizeutf8/transformer.go — replace every
    invalid UTF-8 byte with U+FFFD so downstream string ops never throw.
    Spark 4's make_valid_utf8/is_valid_utf8 do this inside codegen (a
    binary→string cast is a raw byte wrap, no validation — exactly why the
    repair step exists). Accepts binary or string source columns."""
    dest = dest or f"{source}_sanitized"
    src = f"cast(`{source}` as string)"
    return df.withColumn(flag_col, F.expr(f"is_valid_utf8({src})")).withColumn(
        dest, F.expr(f"make_valid_utf8({src})")
    )


# --- syslog RFC fidelity (operator/parser/syslog/parser.go) ------------------

# SD = '-' or one-or-more [...] elements. Inside an element, ']' must be
# escaped as '\]' (RFC5424 §6.3.3), so each element matches escaped pairs
# (\\.) or any non-']'/non-backslash char — an escaped '\]' stays inside
# the SD capture while a bare ']' in the MESSAGE stays out of it (a greedy
# \[.*\] would swallow 'map[foo]'-style message text).
RFC5424_RE = r"^<(\d{1,3})>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) (-|(?:\[(?:[^\]\\]|\\.)*\])+)(?: (.*))?$"
RFC3164_RE = r"^<(\d{1,3})>([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) (\S+) ([^:\[ ]+)(?:\[(\d+)\])?: (.*)$"
_SD_PARAM_RE = r'(\w+)="([^"]*)"'


def syslog_rfc5424_parser(df: DataFrame, source: str) -> DataFrame:
    """RFC5424 branch: <PRI>VERSION TS HOSTNAME APP PROCID MSGID SD MSG.
    facility = PRI >> 3, severity = PRI & 7 (syslog/parser.go priority
    split). Structured data keeps the raw element plus its id and a sorted
    k=v join of params (engine-neutral map view)."""
    s = F.col(source)
    pri = F.regexp_extract(s, RFC5424_RE, 1).cast("int")
    sd = F.regexp_extract(s, RFC5424_RE, 8)
    params = F.regexp_extract_all(sd, F.lit(_SD_PARAM_RE), 0)
    return df.select(
        "*",
        (pri.bitwiseAND(F.lit(7))).alias("syslog_severity"),
        F.shiftright(pri, 3).alias("syslog_facility"),
        F.regexp_extract(s, RFC5424_RE, 2).cast("int").alias("syslog_version"),
        F.regexp_extract(s, RFC5424_RE, 3).alias("syslog_ts"),
        F.regexp_extract(s, RFC5424_RE, 4).alias("syslog_hostname"),
        F.regexp_extract(s, RFC5424_RE, 5).alias("syslog_appname"),
        F.regexp_extract(s, RFC5424_RE, 6).alias("syslog_procid"),
        F.regexp_extract(s, RFC5424_RE, 7).alias("syslog_msgid"),
        F.regexp_extract(sd, r"^\[([\w@.-]+)", 1).alias("syslog_sd_id"),
        F.array_join(F.sort_array(params), ",").alias("syslog_sd_params"),
        F.regexp_extract(s, RFC5424_RE, 9).alias("syslog_message"),
    )


def syslog_rfc3164_parser(df: DataFrame, source: str) -> DataFrame:
    """RFC3164 (BSD) branch: <PRI>Mmm dd hh:mm:ss HOST TAG[PID]: MSG."""
    s = F.col(source)
    pri = F.regexp_extract(s, RFC3164_RE, 1).cast("int")
    return df.select(
        "*",
        (pri.bitwiseAND(F.lit(7))).alias("syslog_severity"),
        F.shiftright(pri, 3).alias("syslog_facility"),
        F.regexp_extract(s, RFC3164_RE, 2).alias("syslog_ts"),
        F.regexp_extract(s, RFC3164_RE, 3).alias("syslog_hostname"),
        F.regexp_extract(s, RFC3164_RE, 4).alias("syslog_tag"),
        F.nullif(F.regexp_extract(s, RFC3164_RE, 5), F.lit("")).cast("int").alias("syslog_pid"),
        F.regexp_extract(s, RFC3164_RE, 6).alias("syslog_message"),
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def _octet_frames_udf(lines: pd.Series) -> pd.Series:
    """Octet-counting framing (RFC6587 / syslog enable_octet_counting):
    'N <frame-bytes>N2 <frame2-bytes>...'. Framing is inherently sequential
    (counts decide the boundaries, so no regex split exists) — the one
    honest pandas-UDF case in the parse family. Arrow-batched; counts are
    BYTE counts, so slicing happens on the encoded bytes."""

    def split(x: str) -> list[str]:
        if x is None:
            return []
        data = x.encode("utf-8")
        out: list[str] = []
        i = 0
        while i < len(data):
            j = data.find(b" ", i)
            if j <= i:
                break
            try:
                n = int(data[i:j])
            except ValueError:
                break
            if j + 1 + n > len(data):
                # declared count exceeds the remaining payload: corrupt
                # framing — drop the fragment rather than emit a silently
                # truncated frame indistinguishable from a valid short one
                break
            out.append(data[j + 1 : j + 1 + n].decode("utf-8", errors="replace"))
            i = j + 1 + n
        return out

    return lines.map(split)


def split_octet_frames(df: DataFrame, source: str, out_col: str = "frame", idx_col: str = "frame_idx") -> DataFrame:
    """One row per octet-counted frame: (input columns..., frame_idx, frame)."""
    framed = df.withColumn("_frames", _octet_frames_udf(F.col(source)))
    return (
        framed.select("*", F.posexplode(F.col("_frames")).alias(idx_col, out_col))
        .drop("_frames")
        .withColumn(idx_col, F.col(idx_col).cast("int"))
    )


TRACEPARENT_RE = r"^(\d{2})-([0-9a-f]{32})-([0-9a-f]{16})-([0-9a-f]{2})$"


def trace_parser(df: DataFrame, source: str) -> DataFrame:
    """operator/parser/trace (stanza trace_parser) over a W3C traceparent
    header: version-trace_id-span_id-flags, lowercase hex widths enforced
    (malformed -> nulls, the on_error=send analogue). sampled = flags bit 0."""
    s = F.lower(F.trim(F.col(source)))
    tid = F.nullif(F.regexp_extract(s, TRACEPARENT_RE, 2), F.lit(""))
    sid = F.nullif(F.regexp_extract(s, TRACEPARENT_RE, 3), F.lit(""))
    flags = F.nullif(F.regexp_extract(s, TRACEPARENT_RE, 4), F.lit(""))
    return df.select(
        "*",
        tid.alias("trace_id"),
        sid.alias("span_id"),
        F.conv(flags, 16, 10).cast("int").alias("trace_flags"),
        (F.conv(flags, 16, 10).cast("int").bitwiseAND(F.lit(1)) == 1).alias("trace_sampled"),
    )


def xml_parser(df: DataFrame, source: str, schema: str, dest: str = "parsed_xml") -> DataFrame:
    """operator/parser/xml — XML string → typed struct via Spark 4's native
    from_xml (attributes surface as '_name' fields); malformed input yields
    null (on_error=send). Pair with GetXML/xpath for subset extraction."""
    return df.withColumn(dest, F.from_xml(F.col(source), schema))


# strptime (C-style) directive → Spark/Java datetime pattern. The reference
# accepts strptime layouts (operator/helper/time.go:24-47 'strptime'); users
# switching keep their configs and we translate once at plan build.
_STRPTIME_MAP = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%e": "d",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS",
    "%L": "SSS", "%j": "DDD", "%p": "a", "%z": "XX", "%Z": "zz",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE", "%%": "%",
}


def strptime_to_spark(fmt: str) -> str:
    """Translate a strptime layout ('%Y-%m-%dT%H:%M:%S') to the Java
    DateTimeFormatter pattern Spark's to_timestamp expects. Unknown
    directives raise at plan build (eager validation). Consecutive literal
    letters are quoted as ONE section — adjacent single-quoted sections
    ('U''T''C') read as embedded quotes to the Java parser."""
    out: list[str] = []
    lit: list[str] = []

    def flush_lit() -> None:
        if lit:
            out.append("'" + "".join(lit) + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i : i + 2]
            if d not in _STRPTIME_MAP:
                raise ValueError(f"unsupported strptime directive {d!r}")
            flush_lit()
            out.append(_STRPTIME_MAP[d])
            i += 2
        elif fmt[i].isalpha():
            lit.append(fmt[i])  # literal letters must be quoted in Java patterns
            i += 1
        else:
            flush_lit()
            out.append(fmt[i])
            i += 1
    flush_lit()
    return "".join(out)


def time_parser_layout(
    df: DataFrame,
    source: str,
    layout: str,
    layout_type: str = "strptime",
    dest: str = "event_ts",
    location: str | None = None,
) -> DataFrame:
    """operator/helper/time.go layout types: 'strptime' (translated),
    'gotime'/'spark' (native pattern), 'epoch' with layout s|ms|us|ns.
    Unknown layout_type raises eagerly; unparsable VALUES yield null
    (try_cast — a bad row must not abort the job under ANSI mode).

    `location` mirrors the stanza time block's location option
    (timeparser config / time.go:49): a zone-less layout is interpreted
    as wall-clock time IN that IANA zone and converted to UTC. Epoch
    layouts are absolute, so location does not apply to them."""
    def _localize(col):
        return F.to_utc_timestamp(col, location) if location else col

    if layout_type == "strptime":
        src = F.col(source)
        if "%e" in layout:
            # strptime %e is a SPACE-padded day (' 1', 'Mar  1'); Java 'd'
            # wants exactly one space between tokens and none leading —
            # collapse runs and trim the edge pad before parsing
            src = F.ltrim(F.regexp_replace(src, " +", " "))
        return df.withColumn(dest, _localize(F.try_to_timestamp(src, F.lit(strptime_to_spark(layout)))))
    if layout_type == "epoch":
        n = f"try_cast(`{source}` as bigint)"
        # range guards: timestamp_seconds/millis multiply internally with
        # Math.multiplyExact — an out-of-range value (e.g. a ns epoch fed to
        # the s layout) must null the row, not ArithmeticException the job
        s_ok = f"(CASE WHEN {n} BETWEEN -9223372036854 AND 9223372036854 THEN {n} END)"
        ms_ok = f"(CASE WHEN {n} BETWEEN -9223372036854775 AND 9223372036854775 THEN {n} END)"
        conv = {
            "s": f"timestamp_seconds({s_ok})",
            "ms": f"timestamp_millis({ms_ok})",
            "us": f"timestamp_micros({n})",
            # exact integer floor-division: ns epochs exceed 2^53, so any
            # double round-trip corrupts the low bits; `div` truncates
            # toward zero, the CASE corrects negatives to a true floor
            "ns": f"timestamp_micros(({n} div 1000) + (CASE WHEN {n} % 1000 < 0 THEN -1 ELSE 0 END))",
        }
        if layout not in conv:
            raise ValueError("epoch layout must be one of s|ms|us|ns")
        return df.withColumn(dest, F.expr(conv[layout]))
    if layout_type in ("gotime", "spark"):
        return df.withColumn(dest, _localize(F.try_to_timestamp(F.col(source), F.lit(layout))))
    raise ValueError(f"unknown layout_type {layout_type!r} (strptime|epoch|gotime|spark)")


def csv_parser_dynamic(
    df: DataFrame, source: str, header_col: str, sep: str = ",", dest: str = "parsed_csv"
) -> DataFrame:
    """csv_parser with a per-entry dynamic header (operator/parser/csv/
    parser.go:94): the column list comes from another FIELD, so no static
    schema exists — the parse result is a map built with map_from_arrays
    (zip of split header and split row). The header is row DATA, so
    malformed rows (field-count mismatch, duplicate header keys) yield a
    NULL map instead of aborting the job (on_error=send); the separator is
    a literal string, matching csv_parser's from_csv semantics."""
    keys = F.split(F.col(header_col), F.lit(_re.escape(sep)), -1)
    vals = F.split(F.col(source), F.lit(_re.escape(sep)), -1)
    ok = (F.size(keys) == F.size(vals)) & (F.size(F.array_distinct(keys)) == F.size(keys))
    return df.withColumn(dest, F.when(ok, F.map_from_arrays(keys, vals)))


# --- otlpjson connector (connector/otlpjsonconnector) ------------------------

# the OTLP/JSON logs envelope (resourceLogs -> scopeLogs -> logRecords),
# attribute values modeled as the OTLP AnyValue string/int/double/bool
# variant struct — exactly the shape logs_test.go:48 embeds
OTLP_LOGS_SCHEMA = (
    "struct<resourceLogs: array<struct<"
    "resource: struct<attributes: array<struct<key: string,"
    " value: struct<stringValue: string, intValue: string,"
    " doubleValue: double, boolValue: boolean>>>>,"
    "scopeLogs: array<struct<scope: struct<name: string, version: string>,"
    "logRecords: array<struct<timeUnixNano: string, severityText: string,"
    " severityNumber: int,"
    " body: struct<stringValue: string>,"
    " attributes: array<struct<key: string,"
    " value: struct<stringValue: string, intValue: string,"
    " doubleValue: double, boolValue: boolean>>>>>>>>>>"
)


def _otlp_attr_map(attrs: Column) -> Column:
    """OTLP attribute list -> map<string,string> (first non-null variant,
    rendered as string — the engine-neutral view of AnyValue). Duplicate
    keys in the payload keep the FIRST entry: external input must not be
    able to kill the job via DUPLICATED_MAP_KEY (mapKeyDedupPolicy is
    EXCEPTION by default), so entries are de-duplicated before
    map_from_entries. The O(k²) array_position scan is per-row over an
    attribute list — k is small by construction."""
    keys = F.transform(attrs, lambda a: a["key"])
    first_only = F.filter(attrs, lambda a, i: F.array_position(keys, a["key"]) == i + 1)
    return F.map_from_entries(
        F.transform(
            first_only,
            lambda a: F.struct(
                a["key"].alias("key"),
                F.coalesce(
                    a["value"]["stringValue"],
                    a["value"]["intValue"],
                    a["value"]["doubleValue"].cast("string"),
                    a["value"]["boolValue"].cast("string"),
                ).alias("value"),
            ),
        )
    )


def otlp_json_logs(df: DataFrame, source: str) -> DataFrame:
    """otlpjsonconnector for logs: a column of OTLP/JSON-encoded payloads
    (`{"resourceLogs":[...]}`) unfolds into one row per logRecord with
    resource/scope context (connector/otlpjsonconnector/logs.go:41-80;
    envelope gate mirrors factory.go:19's `^{"resourceLogs":[` regex —
    non-matching or malformed payloads drop, the connector's error path).

    Plan shape: from_json (schema'd, no sampling pass) + three nested
    explodes — record count is the natural output row count, so the fanout
    is the data, not an amplification. All field access is columnar."""
    gated = df.filter(F.col(source).rlike(r'^\{\s*"resourceLogs"\s*:\s*\[')).withColumn(
        "_otlp", F.from_json(F.col(source), OTLP_LOGS_SCHEMA)
    )
    rl = gated.select("*", F.explode(F.col("_otlp")["resourceLogs"]).alias("_rl")).drop("_otlp")
    sl = rl.select("*", F.explode(F.col("_rl")["scopeLogs"]).alias("_sl"))
    lr = sl.select("*", F.explode(F.col("_sl")["logRecords"]).alias("_lr"))
    return lr.select(
        *[c for c in df.columns],
        _otlp_attrs_or_empty(F.col("_rl")["resource"]["attributes"]).alias("resource_attrs"),
        F.col("_sl")["scope"]["name"].alias("scope_name"),
        F.col("_lr")["timeUnixNano"].try_cast("long").alias("time_unix_nano"),
        F.col("_lr")["severityText"].alias("severity_text"),
        F.col("_lr")["severityNumber"].alias("severity_number"),
        F.col("_lr")["body"]["stringValue"].alias("body"),
        _otlp_attrs_or_empty(F.col("_lr")["attributes"]).alias("log_attrs"),
    )


_OTLP_ATTRS = (
    "array<struct<key: string, value: struct<stringValue: string,"
    " intValue: string, doubleValue: double, boolValue: boolean>>>"
)

OTLP_TRACES_SCHEMA = (
    "struct<resourceSpans: array<struct<"
    "resource: struct<attributes: " + _OTLP_ATTRS + ">,"
    "scopeSpans: array<struct<scope: struct<name: string, version: string>,"
    "spans: array<struct<traceId: string, spanId: string, parentSpanId: string,"
    " name: string, kind: int, startTimeUnixNano: string, endTimeUnixNano: string,"
    " attributes: " + _OTLP_ATTRS + ","
    " status: struct<code: int, message: string>>>>>>>>"
)

OTLP_METRICS_SCHEMA = (
    "struct<resourceMetrics: array<struct<"
    "resource: struct<attributes: " + _OTLP_ATTRS + ">,"
    "scopeMetrics: array<struct<scope: struct<name: string, version: string>,"
    "metrics: array<struct<name: string, unit: string, description: string,"
    " gauge: struct<dataPoints: array<struct<timeUnixNano: string,"
    "   asDouble: double, asInt: string, attributes: " + _OTLP_ATTRS + ">>>,"
    " sum: struct<isMonotonic: boolean, aggregationTemporality: int,"
    "   dataPoints: array<struct<timeUnixNano: string,"
    "   asDouble: double, asInt: string, attributes: " + _OTLP_ATTRS + ">>>,"
    " histogram: struct<aggregationTemporality: int,"
    "   dataPoints: array<struct<timeUnixNano: string, count: string,"
    "   sum: double, bucketCounts: array<string>, explicitBounds: array<double>,"
    "   attributes: " + _OTLP_ATTRS + ">>>>>>>>>>"
)


def _otlp_attrs_or_empty(col: Column) -> Column:
    return _otlp_attr_map(F.coalesce(col, F.array().cast(_OTLP_ATTRS)))


def otlp_json_traces(df: DataFrame, source: str) -> DataFrame:
    """otlpjsonconnector for traces: OTLP/JSON payload column
    (`{"resourceSpans":[...]}`) unfolds into one row per span
    (connector/otlpjsonconnector/traces.go:43-80; envelope gate =
    factory.go:21's traceRegex — non-matching payloads drop, the
    connector's error path). Same plan shape as the logs variant:
    schema'd from_json + three explodes, all columnar."""
    gated = df.filter(F.col(source).rlike(r'^\{\s*"resourceSpans"\s*:\s*\[')).withColumn(
        "_otlp", F.from_json(F.col(source), OTLP_TRACES_SCHEMA)
    )
    rs = gated.select("*", F.explode(F.col("_otlp")["resourceSpans"]).alias("_rs")).drop("_otlp")
    ss = rs.select("*", F.explode(F.col("_rs")["scopeSpans"]).alias("_ss"))
    sp = ss.select("*", F.explode(F.col("_ss")["spans"]).alias("_sp"))
    return sp.select(
        *[c for c in df.columns],
        _otlp_attrs_or_empty(F.col("_rs")["resource"]["attributes"]).alias("resource_attrs"),
        F.col("_ss")["scope"]["name"].alias("scope_name"),
        F.col("_sp")["traceId"].alias("trace_id"),
        F.col("_sp")["spanId"].alias("span_id"),
        F.col("_sp")["parentSpanId"].alias("parent_span_id"),
        F.col("_sp")["name"].alias("span_name"),
        F.col("_sp")["kind"].alias("span_kind"),
        F.col("_sp")["startTimeUnixNano"].try_cast("long").alias("start_unix_nano"),
        F.col("_sp")["endTimeUnixNano"].try_cast("long").alias("end_unix_nano"),
        _otlp_attrs_or_empty(F.col("_sp")["attributes"]).alias("span_attrs"),
        F.col("_sp")["status"]["code"].alias("status_code"),
    )


def otlp_json_metrics(df: DataFrame, source: str) -> DataFrame:
    """otlpjsonconnector for metrics: OTLP/JSON payload column
    (`{"resourceMetrics":[...]}`) unfolds into one row per NumberDataPoint
    (gauge/sum; int-vs-double preserved via value_int/value_double) and one
    row per histogram datapoint (count/sum/buckets), `metric_type`
    discriminating (connector/otlpjsonconnector/metrics.go:43-80).

    Plan shape: the payload is parsed ONCE; each metric row's gauge/sum/
    histogram datapoint lists are mapped to a common tagged struct and
    concatenated, so a single explode yields all datapoint rows. (A
    union-of-three-branches formulation re-executed the from_json + three
    explodes per branch — 3× the dominant parse cost.)"""
    gated = df.filter(F.col(source).rlike(r'^\{\s*"resourceMetrics"\s*:\s*\[')).withColumn(
        "_otlp", F.from_json(F.col(source), OTLP_METRICS_SCHEMA)
    )
    rm = gated.select("*", F.explode(F.col("_otlp")["resourceMetrics"]).alias("_rm")).drop("_otlp")
    sm = rm.select("*", F.explode(F.col("_rm")["scopeMetrics"]).alias("_sm"))
    mt = sm.select("*", F.explode(F.col("_sm")["metrics"]).alias("_m"))

    unified_dp = (
        "array<struct<metric_type: string, time_unix_nano: bigint,"
        " value_int: bigint, value_double: double, histogram_count: bigint,"
        " histogram_sum: double, bucket_counts: array<bigint>,"
        " explicit_bounds: array<double>>>"
    )

    def number_dps(mtype: str) -> Column:
        return F.coalesce(
            F.transform(
                F.col("_m")[mtype]["dataPoints"],
                lambda d: F.struct(
                    F.lit(mtype).alias("metric_type"),
                    d["timeUnixNano"].try_cast("long").alias("time_unix_nano"),
                    d["asInt"].try_cast("long").alias("value_int"),
                    d["asDouble"].alias("value_double"),
                    F.lit(None).cast("long").alias("histogram_count"),
                    F.lit(None).cast("double").alias("histogram_sum"),
                    F.lit(None).cast("array<long>").alias("bucket_counts"),
                    F.lit(None).cast("array<double>").alias("explicit_bounds"),
                ),
            ),
            F.array().cast(unified_dp),
        )

    histogram_dps = F.coalesce(
        F.transform(
            F.col("_m")["histogram"]["dataPoints"],
            lambda d: F.struct(
                F.lit("histogram").alias("metric_type"),
                d["timeUnixNano"].try_cast("long").alias("time_unix_nano"),
                F.lit(None).cast("long").alias("value_int"),
                F.lit(None).cast("double").alias("value_double"),
                d["count"].try_cast("long").alias("histogram_count"),
                d["sum"].alias("histogram_sum"),
                F.transform(d["bucketCounts"], lambda x: x.try_cast("long")).alias("bucket_counts"),
                d["explicitBounds"].alias("explicit_bounds"),
            ),
        ),
        F.array().cast(unified_dp),
    )

    dps = mt.select(
        "*",
        F.explode(
            F.concat(number_dps("gauge"), number_dps("sum"), histogram_dps)
        ).alias("_dp"),
    )
    return dps.select(
        *[c for c in df.columns],
        _otlp_attrs_or_empty(F.col("_rm")["resource"]["attributes"]).alias("resource_attrs"),
        F.col("_sm")["scope"]["name"].alias("scope_name"),
        F.col("_m")["name"].alias("metric_name"),
        F.col("_m")["unit"].alias("metric_unit"),
        F.col("_dp")["metric_type"].alias("metric_type"),
        F.col("_dp")["time_unix_nano"].alias("time_unix_nano"),
        F.col("_dp")["value_int"].alias("value_int"),
        F.col("_dp")["value_double"].alias("value_double"),
        F.col("_dp")["histogram_count"].alias("histogram_count"),
        F.col("_dp")["histogram_sum"].alias("histogram_sum"),
        F.col("_dp")["bucket_counts"].alias("bucket_counts"),
        F.col("_dp")["explicit_bounds"].alias("explicit_bounds"),
    )


# --- journald input (pkg/stanza/operator/input/journald) ---------------------
# journalctl -o json export priority -> canonical severity, as the stanza
# journald input's severity mapping does (input/journald/input.go parses the
# PRIORITY field; syslog(3) levels 0..7).
JOURNALD_SEVERITY: dict[int, str] = {
    0: "FATAL", 1: "FATAL", 2: "FATAL", 3: "ERROR",
    4: "WARN", 5: "INFO", 6: "INFO", 7: "DEBUG",
}


def parse_journald(df: DataFrame, source: str = "body") -> DataFrame:
    """journald input analogue over a column of `journalctl -o json` lines
    (the stanza journald receiver shells out to journalctl and parses exactly
    this shape — pkg/stanza/operator/input/journald/input.go). One schema'd
    from_json into map<string,string> (journald export values are strings),
    then pure projections: MESSAGE -> body, PRIORITY -> severity text+number,
    __REALTIME_TIMESTAMP (epoch µs string) -> timestamp, _HOSTNAME /
    _SYSTEMD_UNIT kept as resource fields. No UDF, single codegen stage.
    Malformed JSON or missing fields yield NULLs (on_error=send)."""
    m = F.from_json(F.col(source), "map<string,string>")
    prio = m["PRIORITY"].cast("int")
    sev = F.when(F.lit(False), F.lit(None).cast("string"))
    for n, canon in JOURNALD_SEVERITY.items():
        sev = sev.when(prio == n, F.lit(canon))
    return df.select(
        *df.columns,
        m["MESSAGE"].alias("jd_body"),
        prio.alias("jd_priority"),
        sev.otherwise(F.lit(None).cast("string")).alias("jd_severity"),
        F.timestamp_micros(m["__REALTIME_TIMESTAMP"].cast("bigint")).alias("jd_ts"),
        m["_HOSTNAME"].alias("jd_hostname"),
        m["_SYSTEMD_UNIT"].alias("jd_unit"),
    )


# --- wire-format line parsers (receiver payload formats) ----------------------
# The network receivers themselves are out of scope (SURVEY §2.1: ingress is
# the table), but their LINE FORMATS are ordinary text parsers. All three are
# single-pass regexp projections (no UDF), malformed lines -> NULLs.

# strict number token: rejects half-numeric garbage like "1.2.3" so a bad
# value fails the WHOLE line (the reference parsers reject such lines, not
# individual fields)
_NUM = r"(?:[-+]?(?:\d+(?:\.\d+)?|\.\d+)(?:[eE][-+]?\d+)?)"


def sorted_kv_csv(m: Column) -> Column:
    """The repo's canonical deterministic rendering of a map column:
    sorted `k=v` pairs joined by ','. Shared by every wire parser that
    surfaces a label/dimension/field map."""
    return F.array_join(
        F.array_sort(
            F.transform(F.map_entries(m), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ",",
    )


def _guarded_groups(line: Column, regex: str, n: int) -> list[Column]:
    """ONE regex execution per row for the common case: the matched line is
    rewritten to its capture groups joined by \x01 and split (the same
    trick as parse_native — per-group regexp_extract would re-run the whole
    pattern once per output column). Rows containing a literal \x01 take
    the per-group fallback so adversarial bytes can never shift fields.
    Caller gates on rlike(regex); unmatched optional groups arrive as ''."""
    sep = "\x01"
    tpl = sep.join(f"${i}" for i in range(1, n + 1))
    arr = F.split(F.regexp_replace(line, regex, tpl), sep)
    sep_free = ~line.contains(sep)
    # F.get (not arr[i]): out-of-bounds -> NULL. Under ANSI mode a plain
    # index THROWS for non-matching lines (replace is a no-op, the split
    # has 1 element) whenever codegen subexpression elimination hoists the
    # access out of its guarding CASE branch.
    return [
        F.when(sep_free, F.get(arr, i - 1)).otherwise(F.regexp_extract(line, regex, i))
        for i in range(1, n + 1)
    ]


def parse_statsd(df: DataFrame, source: str = "body") -> DataFrame:
    """statsd line parser — receiver/statsdreceiver/internal/parser/
    statsd_parser.go:37-41 metric types (c|g|h|ms|d), `|@rate` sampling,
    DogStatsD `|#k:v,...` tags. Emits (st_name, st_value double, st_type,
    st_rate double defaulting 1.0, st_tags_csv sorted). Non-matching lines
    yield NULL fields (on_error=send)."""
    line = F.col(source)
    m = rf"^([^:|#]+):({_NUM})\|(c|g|h|ms|d)(?:\|@([0-9.]+))?(?:\|#([^|]*))?$"
    ok = line.rlike(m)
    name, value, mtype, rate, tags_raw = _guarded_groups(line, m, 5)
    tags_csv = F.when(
        tags_raw != "", F.array_join(F.array_sort(F.split(tags_raw, ",")), ",")
    ).otherwise(F.lit(None).cast("string"))
    return df.select(
        *df.columns,
        F.when(ok, name).alias("st_name"),
        F.when(ok, value.try_cast("double")).alias("st_value"),
        F.when(ok, mtype).alias("st_type"),
        F.when(
            ok,
            F.coalesce(F.nullif(rate, F.lit("")).try_cast("double"), F.lit(1.0)),
        ).alias("st_rate"),
        F.when(ok, tags_csv).alias("st_tags_csv"),
    )


def parse_influx_line(df: DataFrame, source: str = "body") -> DataFrame:
    """InfluxDB line protocol (receiver/influxdbreceiver — the wire format
    its HTTP endpoint accepts): `measurement[,tag=v...] field=v[,f2=v2] [ts]`.
    Covers the unescaped subset (no `\\,`/`\\ ` escapes — those payloads
    yield NULLs rather than wrong splits). Emits (il_measurement,
    il_tags_csv sorted, il_fields_csv sorted, il_ts timestamp from the ns
    epoch when present)."""
    line = F.col(source)
    m = r"^([A-Za-z_][A-Za-z0-9_.]*)((?:,[A-Za-z0-9_.]+=[^,= ]+)*) ([^ ]+)(?: (\d+))?$"
    ok = line.rlike(m)
    meas_g, tags_g, fields_g, ns_g = _guarded_groups(line, m, 4)
    meas = F.when(ok, meas_g)
    tags_csv = F.when(
        tags_g != "",
        F.array_join(F.array_sort(F.split(F.substring(tags_g, 2, 1 << 20), ",")), ","),
    ).otherwise(F.lit(None).cast("string"))
    fields_csv = F.array_join(F.array_sort(F.split(fields_g, ",")), ",")
    ns_str = F.when(ok, F.nullif(ns_g, F.lit("")))
    # exact ns -> µs: these epochs exceed 2^53, so ANY double round-trip
    # (plain or try_divide) can corrupt the low microseconds. The capture is
    # a digit string — dropping its last 3 characters IS exact integer
    # division by 1000 for the non-negative line-protocol timestamps.
    us = (
        F.when(F.length(ns_str) > 3, ns_str.substr(F.lit(1), F.length(ns_str) - 3))
        .when(ns_str.isNotNull(), F.lit("0"))  # sub-µs ts -> epoch 0; absent ts stays NULL
        .try_cast("long")
    )
    return df.select(
        *df.columns,
        meas.alias("il_measurement"),
        F.when(meas.isNotNull(), tags_csv).alias("il_tags_csv"),
        F.when(meas.isNotNull(), fields_csv).alias("il_fields_csv"),
        F.timestamp_micros(us).alias("il_ts"),
    )


def parse_prometheus_text(df: DataFrame, source: str = "body") -> DataFrame:
    """Prometheus text exposition sample line (receiver/prometheusreceiver's
    scrape payload format): `name{l1="v1",...} value [ts_ms]`. Emits
    (pm_name, pm_labels_csv sorted `k=v` pairs, pm_value double, pm_ts from
    epoch ms when present). Comment/HELP/TYPE and malformed lines -> NULLs."""
    line = F.col(source)
    m = (
        r'^([A-Za-z_:][A-Za-z0-9_:]*)(?:\{((?:[A-Za-z_][A-Za-z0-9_]*="[^"]*",?)*)\})?'
        rf" ({_NUM}|NaN)(?: (\d+))?$"
    )
    ok = line.rlike(m)
    name_g, labels_g, value_g, ms_g = _guarded_groups(line, m, 4)
    name = F.when(ok, name_g)
    # each `k="v"` pair is extracted as a unit BEFORE quote stripping —
    # splitting a quote-stripped blob on ',' would split inside label
    # values that legitimately contain commas
    pairs = F.regexp_extract_all(labels_g, F.lit(r'[A-Za-z_][A-Za-z0-9_]*="[^"]*"'), 0)
    labels_csv = F.when(
        labels_g != "",
        F.array_join(
            F.array_sort(F.transform(pairs, lambda x: F.regexp_replace(x, '"', ""))), ","
        ),
    ).otherwise(F.lit(None).cast("string"))
    ms = F.when(ok, F.nullif(ms_g, F.lit(""))).try_cast("long")
    return df.select(
        *df.columns,
        name.alias("pm_name"),
        F.when(name.isNotNull(), labels_csv).alias("pm_labels_csv"),
        F.when(name.isNotNull(), value_g.try_cast("double")).alias("pm_value"),
        F.timestamp_millis(ms).alias("pm_ts"),
    )


ZIPKIN_SCHEMA = (
    "array<struct<traceId: string, id: string, parentId: string, name: string,"
    " kind: string, timestamp: bigint, duration: bigint,"
    " localEndpoint: struct<serviceName: string>, tags: map<string,string>>>"
)


def zipkin_json_spans(df: DataFrame, source: str = "body") -> DataFrame:
    """Zipkin v2 JSON span arrays (receiver/zipkinreceiver's wire format —
    a flat `[{traceId, id, parentId, name, kind, timestamp µs, duration µs,
    localEndpoint.serviceName, tags}]` list): schema'd from_json + one
    explode, one row per span. Non-array or malformed payloads drop (the
    receiver's error path); tags surface as a sorted `k=v` CSV so results
    are deterministic on every engine."""
    gated = df.filter(F.col(source).rlike(r"^\s*\[")).withColumn(
        "_z", F.from_json(F.col(source), ZIPKIN_SCHEMA)
    )
    sp = gated.select("*", F.explode(F.col("_z")).alias("_s")).drop("_z")
    tags_csv = sorted_kv_csv(F.col("_s")["tags"])
    return sp.select(
        *[c for c in df.columns],
        F.col("_s")["traceId"].alias("trace_id"),
        F.col("_s")["id"].alias("span_id"),
        F.col("_s")["parentId"].alias("parent_span_id"),
        F.col("_s")["name"].alias("span_name"),
        F.col("_s")["kind"].alias("span_kind"),
        F.col("_s")["timestamp"].alias("ts_us"),
        F.col("_s")["duration"].alias("duration_us"),
        F.col("_s")["localEndpoint"]["serviceName"].alias("service_name"),
        F.when(F.col("_s")["tags"].isNotNull(), tags_csv).alias("tags_csv"),
    )


LOKI_SCHEMA = (
    "struct<streams: array<struct<stream: map<string,string>,"
    " values: array<array<string>>>>>"
)


def loki_json_push(df: DataFrame, source: str = "body") -> DataFrame:
    """Loki push-API JSON (receiver/lokireceiver's wire format —
    `{"streams":[{"stream":{labels},"values":[["<ns>","<line>"],...]}]}`):
    one row per log line with its stream's label set (sorted k=v CSV) and
    the nanosecond timestamp string converted exactly (digit-string
    truncation, no double round-trip). Two explodes, all columnar;
    malformed payloads drop."""
    gated = df.filter(F.col(source).rlike(r'^\s*\{\s*"streams"')).withColumn(
        "_l", F.from_json(F.col(source), LOKI_SCHEMA)
    )
    st = gated.select("*", F.explode(F.col("_l")["streams"]).alias("_st")).drop("_l")
    v = st.select("*", F.explode(F.col("_st")["values"]).alias("_v"))
    labels_csv = sorted_kv_csv(F.col("_st")["stream"])
    ns_str = F.col("_v")[0]
    us = (
        F.when(F.length(ns_str) > 3, ns_str.substr(F.lit(1), F.length(ns_str) - 3))
        .when(ns_str.isNotNull(), F.lit("0"))
        .try_cast("long")
    )
    return v.select(
        *[c for c in df.columns],
        labels_csv.alias("labels_csv"),
        F.timestamp_micros(us).alias("line_ts"),
        F.col("_v")[1].alias("line"),
    )


def parse_carbon(df: DataFrame, source: str = "body") -> DataFrame:
    """Carbon/Graphite plaintext line (receiver/carbonreceiver/protocol/
    path_parser_helper.go:80-127 + plaintext_parser.go:40-70):
    `<name>[;k=v;...] <value> <unix_ts>` with EXACTLY three single-space
    separated parts (SplitN semantics: runs of spaces are malformed), the
    value int-or-float (cb_is_int mirrors the ParseInt-first dispatch that
    picks the datapoint's int vs double slot), the timestamp int seconds
    or fractional seconds, and carbon tags where the key may not contain
    `;!^=` and the value may not contain `;~` — ONE bad tag poisons the
    whole line (the reference errors the line, on_error=send -> NULLs).
    Emits (cb_name, cb_tags_csv sorted, cb_value double, cb_is_int,
    cb_ts_us)."""
    line = F.col(source)
    # Go strconv.ParseFloat also accepts trailing-dot forms ("1582230020.",
    # plaintext_parser_test.go:109) — wider than the shared _NUM
    go_num = r"(?:[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)"
    shape = rf"^([^ ;]+(?:;[^ ]*)?) ({go_num}) ({go_num})$"
    ok_shape = line.rlike(shape)
    path, value, ts = _guarded_groups(line, shape, 3)
    name = F.substring_index(path, ";", 1)
    rest = F.when(
        F.length(path) > F.length(name), F.expr(f"substring({'_cbp'}, length(_cbn) + 2)")
    )
    tmp = df.withColumn("_cbp", F.when(ok_shape, path)).withColumn("_cbn", F.when(ok_shape, name))
    tags_arr = F.split(rest, ";")
    # empty tag section ("name;") is legal and empty (plaintext_parser.go:53-56)
    has_tags = rest.isNotNull() & (rest != "")
    bad_tag = F.exists(tags_arr, lambda t: ~t.rlike(r"^[^;!^=]+=[^;~]*$"))
    ok = ok_shape & ~(has_tags & bad_tag)
    tags_csv = F.when(has_tags, F.array_join(F.array_sort(tags_arr), ",")).otherwise(
        F.lit(None).cast("string")
    )
    out = tmp.select(
        *df.columns,
        F.when(ok, F.col("_cbn")).alias("cb_name"),
        F.when(ok, tags_csv).alias("cb_tags_csv"),
        F.when(ok, value.try_cast("double")).alias("cb_value"),
        F.when(ok, value.rlike(r"^[-+]?\d+$")).alias("cb_is_int"),
        F.when(ok, F.floor(ts.try_cast("double") * 1000000).cast("bigint")).alias("cb_ts_us"),
    )
    return out


COLLECTD_SCHEMA = (
    "array<struct<time: double, interval: double, host: string, plugin: string,"
    " plugin_instance: string, type: string, type_instance: string,"
    " dstypes: array<string>, dsnames: array<string>, values: array<double>>>"
)


def parse_collectd_json(df: DataFrame, source: str = "body") -> DataFrame:
    """collectd JSON payload (receiver/collectdreceiver/collectd.go:20-98):
    an array of records, each fanning out one datapoint per
    (dsname, dstype, value) triple. The metric name joins non-empty
    `type`.`type_instance` and appends `.dsname` only when the record has
    more than one dsname (getReasonableMetricName, collectd.go:156-182).
    The reference's bracketed LabelsFromName extraction (`name[k=v]`) is
    deliberately not applied — labels surface as plain columns. Emits one
    row per datapoint: (cd_name, cd_host, cd_plugin, cd_plugin_instance,
    cd_dsname, cd_dstype, cd_value, cd_interval, cd_ts_us)."""
    gated = df.filter(F.col(source).rlike(r"^\s*\[")).withColumn(
        "_recs", F.from_json(F.col(source), COLLECTD_SCHEMA)
    )
    rec = gated.select("*", F.explode("_recs").alias("_r")).drop("_recs")
    r = F.col("_r")
    trip = rec.select(
        "*", F.posexplode(F.arrays_zip(r["dsnames"], r["dstypes"], r["values"])).alias("_i", "_t")
    )
    dsname = F.col("_t")["dsnames"]
    base = F.concat_ws(".", F.nullif(r["type"], F.lit("")), F.nullif(r["type_instance"], F.lit("")))
    name = F.when(
        (F.size(r["dsnames"]) > 1) & dsname.isNotNull() & (dsname != ""),
        F.concat(base, F.lit("."), dsname),
    ).otherwise(base)
    return trip.select(
        *df.columns,
        name.alias("cd_name"),
        r["host"].alias("cd_host"),
        r["plugin"].alias("cd_plugin"),
        r["plugin_instance"].alias("cd_plugin_instance"),
        dsname.alias("cd_dsname"),
        F.col("_t")["dstypes"].alias("cd_dstype"),
        F.col("_t")["values"].alias("cd_value"),
        r["interval"].alias("cd_interval"),
        F.floor(r["time"] * 1000000).cast("bigint").alias("cd_ts_us"),
    )


FIREHOSE_SCHEMA = (
    "struct<requestId: string, timestamp: bigint, records: array<struct<data: string>>>"
)


def parse_firehose_envelope(df: DataFrame, source: str = "body") -> DataFrame:
    """AWS Kinesis Firehose HTTP-endpoint envelope
    (receiver/awsfirehosereceiver/receiver.go:75-89): `{"requestId",
    "timestamp" (epoch ms), "records": [{"data": "<base64>"}]}` — one row
    per record with the payload base64-decoded (empty data is legal and
    yields ''); undecodable base64 yields NULL (try_to_binary, the
    on_error=send analogue)."""
    gated = df.filter(F.col(source).rlike(r"^\s*\{")).withColumn(
        "_env", F.from_json(F.col(source), FIREHOSE_SCHEMA)
    )
    rec = gated.select("*", F.posexplode(F.col("_env")["records"]).alias("_i", "_r"))
    return rec.select(
        *df.columns,
        F.col("_env")["requestId"].alias("fh_request_id"),
        F.timestamp_millis(F.col("_env")["timestamp"]).alias("fh_ts"),
        F.col("_i").cast("int").alias("fh_record_idx"),
        F.try_to_binary(F.col("_r")["data"], F.lit("base64")).cast("string").alias("fh_data"),
    )


CLOUDWATCH_SUB_SCHEMA = (
    "struct<owner: string, logGroup: string, logStream: string,"
    " subscriptionFilters: array<string>, messageType: string,"
    " logEvents: array<struct<id: string, timestamp: bigint, message: string>>>"
)


@F.pandas_udf(T.StringType())
def _gunzip_utf8(payloads: pd.Series) -> pd.Series:
    """gzip-decompress a binary column to UTF-8 text; undecodable -> NULL.
    Bounded: refuses payloads inflating past 64 MiB (decompression-bomb
    guard, same stance as the PNG decoder)."""
    import gzip as _gzip

    def one(b):
        if b is None:
            return None
        try:
            with _gzip.GzipFile(fileobj=__import__("io").BytesIO(bytes(b))) as f:
                out = f.read(64 * 1024 * 1024 + 1)
            if len(out) > 64 * 1024 * 1024:
                return None
            return out.decode("utf-8", errors="replace")
        except Exception:  # noqa: BLE001
            return None

    return payloads.map(one)


def parse_cloudwatch_subscription(df: DataFrame, source: str = "payload") -> DataFrame:
    """CloudWatch Logs subscription-filter data (awslogsencodingextension
    internal/unmarshaler/subscription-filter/types.go:19-35): gzip JSON
    envelope -> one row per logEvent, CONTROL_MESSAGE records skipped
    (unmarshaler.go:26). The gunzip is the only Python step; envelope
    parse + explode stay native (schema'd from_json + posexplode)."""
    txt = df.withColumn("_cw", F.from_json(_gunzip_utf8(F.col(source)), CLOUDWATCH_SUB_SCHEMA))
    data = txt.filter(F.col("_cw")["messageType"] == "DATA_MESSAGE")
    ev = data.select("*", F.posexplode(F.col("_cw")["logEvents"]).alias("_i", "_e"))
    return ev.select(
        *[c for c in df.columns if c != source],
        F.col("_cw")["owner"].alias("cw_owner"),
        F.col("_cw")["logGroup"].alias("cw_log_group"),
        F.col("_cw")["logStream"].alias("cw_log_stream"),
        F.array_join(F.col("_cw")["subscriptionFilters"], ",").alias("cw_filters_csv"),
        F.col("_e")["id"].alias("cw_event_id"),
        F.timestamp_millis(F.col("_e")["timestamp"]).alias("cw_ts"),
        F.col("_e")["message"].alias("cw_message"),
    )


# awslogsencodingextension internal/unmarshaler/vpc-flow-log/unmarshaler.go:43-58
VPC_FLOW_FIELDS = [
    ("version", "int"), ("account_id", "string"), ("interface_id", "string"),
    ("srcaddr", "string"), ("dstaddr", "string"), ("srcport", "int"),
    ("dstport", "int"), ("protocol", "int"), ("packets", "bigint"),
    ("bytes", "bigint"), ("start", "bigint"), ("end", "bigint"),
    ("action", "string"), ("log_status", "string"),
]


def parse_vpc_flow_log(df: DataFrame, source: str = "body", prefix: str = "fl_") -> DataFrame:
    """AWS VPC flow log line in the default 14-field format
    (vpc-flow-log/unmarshaler.go:43-58): space-separated, '-' meaning
    unset. Pure split projection — no UDF; a wrong field count NULLs the
    whole row (the reference errors the record)."""
    parts = F.split(F.col(source), " ")
    ok = F.size(parts) == len(VPC_FLOW_FIELDS)
    cols = []
    for i, (name, typ) in enumerate(VPC_FLOW_FIELDS):
        raw = F.element_at(parts, i + 1)
        val = F.when(ok & (raw != "-"), raw).otherwise(F.lit(None))
        cols.append(val.try_cast(typ).alias(prefix + name))
    return df.select(*df.columns, *cols)


def synthesize_cloudwatch_payloads(df: DataFrame) -> DataFrame:
    """Deterministic gzip subscription envelopes from (event_id, user_id,
    event_type): two logEvents each; every 9th is a CONTROL_MESSAGE (which
    the parser must skip entirely)."""
    import gzip as _gzip
    import json as _json

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series, types: pd.Series) -> pd.Series:
        out = []
        for i, u, t in zip(ids, users, types):
            i, u = int(i), int(u)
            ms = (1_700_000_000 + i % 86400) * 1000
            env = {
                "owner": f"{100000000000 + u % 100}",
                "logGroup": f"/app/{t}",
                "logStream": f"stream-{u % 5}",
                "subscriptionFilters": ["f1", "f2"],
                "messageType": "CONTROL_MESSAGE" if i % 9 == 0 else "DATA_MESSAGE",
                "logEvents": [
                    {"id": f"{i}-0", "timestamp": ms, "message": f"msg {t} {i}"},
                    {"id": f"{i}-1", "timestamp": ms + 17, "message": f"msg2 {i}"},
                ],
            }
            out.append(_gzip.compress(_json.dumps(env).encode("utf-8"), mtime=0))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "user_id", "event_type"))


# ALB access-log field order (awslogsencodingextension elb-access-log/
# elb.go handleALBAccessLogs; public ALB access-log spec). Quoted fields
# may contain spaces; newer ALB versions APPEND fields, so the regex
# anchors the stable 23-field prefix and tolerates any tail.
_ALB_RE = (
    r"^(\S+) (\S+) (\S+) (\S+) (\S+) ([0-9.-]+) ([0-9.-]+) ([0-9.-]+)"
    r" (\S+) (\S+) (\d+) (\d+)"
    r' "([^"]*)" "([^"]*)" (\S+) (\S+) (\S+) "([^"]*)" "([^"]*)" "([^"]*)"'
    r' (\S+) (\S+) "([^"]*)"(?: .*)?$'
)

_ALB_FIELDS = [
    ("type", "string"), ("time", "string"), ("elb", "string"),
    ("client", "string"), ("target", "string"),
    ("request_processing_time", "double"), ("target_processing_time", "double"),
    ("response_processing_time", "double"),
    ("elb_status_code", "int"), ("target_status_code", "int"),
    ("received_bytes", "bigint"), ("sent_bytes", "bigint"),
    ("request", "string"), ("user_agent", "string"),
    ("ssl_cipher", "string"), ("ssl_protocol", "string"),
    ("target_group_arn", "string"), ("trace_id", "string"),
    ("domain_name", "string"), ("chosen_cert_arn", "string"),
    ("matched_rule_priority", "string"), ("request_creation_time", "string"),
    ("actions_executed", "string"),
]


def parse_alb_access_log(df: DataFrame, source: str = "body", prefix: str = "alb_") -> DataFrame:
    """AWS ALB access-log line: the 23 stable leading fields typed per the
    reference's attribute table (fields.go; '-' = unset), plus the request
    field split into method/url/protocol (parseRequestField,
    elb.go:490-520). One anchored regex, pure projection; malformed lines
    yield all-NULL fields."""
    line = F.col(source)
    ok = line.rlike(_ALB_RE)
    groups = _guarded_groups(line, _ALB_RE, len(_ALB_FIELDS))
    cols = []
    for (name, typ), g in zip(_ALB_FIELDS, groups):
        val = F.when(ok & (g != "-") & (g != ""), g)
        cols.append(val.try_cast(typ).alias(prefix + name))
    req = F.when(ok, groups[12])
    method = F.substring_index(req, " ", 1)
    rest = F.substring(req, F.length(method) + 2, F.lit(1 << 20))
    proto = F.substring_index(rest, " ", -1)
    url = F.substring(rest, F.lit(1), F.length(rest) - F.length(proto) - 1)
    cols += [
        F.when(ok, method).alias(prefix + "method"),
        F.when(ok, url).alias(prefix + "url"),
        F.when(ok, proto).alias(prefix + "protocol"),
    ]
    return df.select(*df.columns, *cols)


CLOUDTRAIL_SCHEMA = (
    "struct<Records: array<struct<"
    "eventVersion: string, eventTime: string, eventSource: string, eventName: string,"
    " awsRegion: string, sourceIPAddress: string, userAgent: string,"
    " userIdentity: struct<type: string, principalId: string, arn: string,"
    " accountId: string, userName: string>,"
    " requestID: string, eventID: string, readOnly: boolean, eventType: string,"
    " errorCode: string, managementEvent: boolean>>>"
)


def parse_cloudtrail(df: DataFrame, source: str = "payload") -> DataFrame:
    """CloudTrail log-file payload (awslogsencodingextension
    internal/unmarshaler/cloudtraillog/unmarshaler.go:28-100): a gzip JSON
    envelope whose `Records` array fans out one row per management/data
    event, identity context flattened. The gunzip is the only Python step;
    envelope parse + explode stay native."""
    txt = df.withColumn("_ct", F.from_json(_gunzip_utf8(F.col(source)), CLOUDTRAIL_SCHEMA))
    rec = txt.select("*", F.posexplode(F.col("_ct")["Records"]).alias("_i", "_r"))
    r = F.col("_r")
    return rec.select(
        *[c for c in df.columns if c != source],
        r["eventVersion"].alias("ct_version"),
        F.try_to_timestamp(r["eventTime"], F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).alias("ct_ts"),
        r["eventSource"].alias("ct_source"),
        r["eventName"].alias("ct_name"),
        r["awsRegion"].alias("ct_region"),
        r["sourceIPAddress"].alias("ct_source_ip"),
        r["userAgent"].alias("ct_user_agent"),
        r["userIdentity"]["type"].alias("ct_identity_type"),
        r["userIdentity"]["arn"].alias("ct_identity_arn"),
        r["userIdentity"]["accountId"].alias("ct_account_id"),
        r["requestID"].alias("ct_request_id"),
        r["eventID"].alias("ct_event_id"),
        r["readOnly"].alias("ct_read_only"),
        r["errorCode"].alias("ct_error_code"),
    )


def synthesize_cloudtrail_payloads(df: DataFrame) -> DataFrame:
    """Deterministic gzip CloudTrail envelopes from (event_id, user_id,
    event_type): two Records each; errorCode set on every 6th."""
    import gzip as _gzip
    import json as _json
    from datetime import datetime, timezone

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series, users: pd.Series, types: pd.Series) -> pd.Series:
        out = []
        for i, u, t in zip(ids, users, types):
            i, u = int(i), int(u)
            ts = datetime.fromtimestamp(1_700_000_000 + i % 86400, tz=timezone.utc)
            recs = []
            for j in range(2):
                rec = {
                    "eventVersion": "1.08",
                    "eventTime": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "eventSource": f"{t}.amazonaws.com",
                    "eventName": "GetObject" if j else "PutObject",
                    "awsRegion": "us-east-1",
                    "sourceIPAddress": f"10.1.{u % 255}.9",
                    "userAgent": "aws-cli/2.0",
                    "userIdentity": {
                        "type": "IAMUser",
                        "principalId": f"P{u}",
                        "arn": f"arn:aws:iam::123456789012:user/u{u % 50}",
                        "accountId": "123456789012",
                        "userName": f"u{u % 50}",
                    },
                    "requestID": f"req-{i}-{j}",
                    "eventID": f"ev-{i}-{j}",
                    "readOnly": j == 1,
                    "eventType": "AwsApiCall",
                }
                if i % 6 == 0:
                    rec["errorCode"] = "AccessDenied"
                recs.append(rec)
            out.append(_gzip.compress(_json.dumps({"Records": recs}).encode(), mtime=0))
        return pd.Series(out)

    return df.withColumn("payload", gen("event_id", "user_id", "event_type"))


# S3 server access log field order (awslogsencodingextension
# internal/unmarshaler/s3-access-log/fields.go; public S3 access-log spec).
# Newer S3 versions APPEND fields (signature through source-region), so the
# regex anchors the stable 18-field prefix and tolerates any tail.
_S3_RE = (
    r"^(\S+) (\S+) \[([^\]]+)\] (\S+) (\S+) (\S+) (\S+) (\S+)"
    r' "([^"]*)" (\d+|-) (\S+) (\d+|-) (\d+|-) (\d+|-) (\d+|-)'
    r' "([^"]*)" "([^"]*)" (\S+)(?: .*)?$'
)

_S3_FIELDS = [
    ("bucket_owner", "string"), ("bucket", "string"), ("time", "string"),
    ("remote_ip", "string"), ("requester", "string"), ("request_id", "string"),
    ("operation", "string"), ("key", "string"), ("request_uri", "string"),
    ("http_status", "int"), ("error_code", "string"), ("bytes_sent", "bigint"),
    ("object_size", "bigint"), ("total_time_ms", "bigint"),
    ("turn_around_time_ms", "bigint"), ("referer", "string"),
    ("user_agent", "string"), ("version_id", "string"),
]


def parse_s3_access_log(df: DataFrame, source: str = "body", prefix: str = "s3_") -> DataFrame:
    """S3 server access-log line: the 18 stable leading fields typed per
    the reference's unmarshaler ('-' = unset), the bracketed strftime time
    parsed to a real timestamp, appended fields tolerated. One anchored
    regex, pure projection; malformed lines yield all-NULL fields."""
    line = F.col(source)
    ok = line.rlike(_S3_RE)
    groups = _guarded_groups(line, _S3_RE, len(_S3_FIELDS))
    cols = []
    for (name, typ), g in zip(_S3_FIELDS, groups):
        val = F.when(ok & (g != "-") & (g != ""), g)
        cols.append(val.try_cast(typ).alias(prefix + name))
    # [06/Feb/2019:00:00:38 +0000] — the strftime layout the spec fixes
    ts = F.when(ok, F.try_to_timestamp(groups[2], F.lit("dd/MMM/yyyy:HH:mm:ss Z")))
    return df.select(*df.columns, *cols, ts.alias(prefix + "ts"))


CW_METRIC_STREAM_SCHEMA = (
    "struct<metric_stream_name: string, account_id: string, region: string,"
    " namespace: string, metric_name: string, dimensions: map<string,string>,"
    " timestamp: bigint, value: struct<max: double, min: double, sum: double,"
    " count: double>, unit: string>"
)


def parse_cloudwatch_metric_stream(df: DataFrame, source: str = "body") -> DataFrame:
    """CloudWatch Metric Streams JSON lines (awscloudwatchmetricstreams-
    encodingextension json_unmarshaler.go:193-232): one statistics-set
    record per line -> a summary datapoint (count/sum/min/max, the
    unmarshaler's dp mapping at :147-161), dimensions as the canonical
    sorted k=v CSV. Native schema'd from_json — no UDF; lines missing the
    required metric_name/namespace yield NULLs."""
    parsed = F.from_json(F.col(source), CW_METRIC_STREAM_SCHEMA)
    ok = parsed["metric_name"].isNotNull() & parsed["namespace"].isNotNull()
    dims = sorted_kv_csv(parsed["dimensions"])
    return df.select(
        *df.columns,
        F.when(ok, parsed["metric_stream_name"]).alias("cm_stream"),
        F.when(ok, parsed["account_id"]).alias("cm_account_id"),
        F.when(ok, parsed["region"]).alias("cm_region"),
        F.when(ok, parsed["namespace"]).alias("cm_namespace"),
        F.when(ok, parsed["metric_name"]).alias("cm_name"),
        F.when(ok & parsed["dimensions"].isNotNull(), dims).alias("cm_dims_csv"),
        F.when(ok, F.timestamp_millis(parsed["timestamp"])).alias("cm_ts"),
        F.when(ok, parsed["value"]["count"].cast("bigint")).alias("cm_count"),
        F.when(ok, parsed["value"]["sum"]).alias("cm_sum"),
        F.when(ok, parsed["value"]["min"]).alias("cm_min"),
        F.when(ok, parsed["value"]["max"]).alias("cm_max"),
        F.when(ok, parsed["unit"]).alias("cm_unit"),
    )


WAF_SCHEMA = (
    "struct<timestamp: bigint, webaclId: string, terminatingRuleId: string,"
    " terminatingRuleType: string, action: string, httpSourceName: string,"
    " httpSourceId: string,"
    " httpRequest: struct<clientIp: string, country: string,"
    "   headers: array<struct<name: string, value: string>>, uri: string,"
    "   args: string, httpVersion: string, httpMethod: string,"
    "   requestID: string, host: string>,"
    " responseCodeSent: bigint, ja3Fingerprint: string>"
)


def parse_waf_log(df: DataFrame, source: str = "body") -> DataFrame:
    """AWS WAF JSON log lines (awslogsencodingextension waf/
    unmarshaler.go:27-52): one row per request with the httpRequest
    context flattened and headers as the canonical sorted k=v CSV.
    Native from_json; rows missing webaclId/timestamp yield NULLs."""
    parsed = F.from_json(F.col(source), WAF_SCHEMA)
    ok = parsed["webaclId"].isNotNull() & parsed["timestamp"].isNotNull()
    req = parsed["httpRequest"]
    headers = F.array_join(
        F.array_sort(
            F.transform(req["headers"], lambda h: F.concat(h["name"], F.lit("="), h["value"]))
        ),
        ",",
    )
    return df.select(
        *df.columns,
        F.when(ok, F.timestamp_millis(parsed["timestamp"])).alias("waf_ts"),
        F.when(ok, parsed["webaclId"]).alias("waf_acl_id"),
        F.when(ok, parsed["terminatingRuleId"]).alias("waf_rule_id"),
        F.when(ok, parsed["terminatingRuleType"]).alias("waf_rule_type"),
        F.when(ok, parsed["action"]).alias("waf_action"),
        F.when(ok, req["clientIp"]).alias("waf_client_ip"),
        F.when(ok, req["country"]).alias("waf_country"),
        F.when(ok, req["httpMethod"]).alias("waf_method"),
        F.when(ok, req["uri"]).alias("waf_uri"),
        F.when(ok, req["args"]).alias("waf_args"),
        F.when(ok & req["headers"].isNotNull(), headers).alias("waf_headers_csv"),
        F.when(ok, parsed["responseCodeSent"]).alias("waf_response_code"),
        F.when(ok, parsed["ja3Fingerprint"]).alias("waf_ja3"),
    )


NFW_SCHEMA = (
    "struct<firewall_name: string, availability_zone: string,"
    " event_timestamp: string,"
    " event: struct<event_type: string, flow_id: bigint, src_ip: string,"
    "   src_port: bigint, dest_ip: string, dest_port: bigint, proto: string,"
    "   sni: string,"
    "   netflow: struct<pkts: bigint, bytes: bigint, age: bigint>,"
    "   alert: struct<action: string, signature: string, signature_id: bigint,"
    "     severity: bigint>>>"
)


def parse_network_firewall_log(df: DataFrame, source: str = "body") -> DataFrame:
    """AWS Network Firewall (Suricata-shaped) JSON events
    (awslogsencodingextension network-firewall-log/unmarshaler.go:39-70):
    netflow and alert sections flattened; the epoch-seconds-as-string
    event_timestamp parsed to a real timestamp."""
    parsed = F.from_json(F.col(source), NFW_SCHEMA)
    ev = parsed["event"]
    ok = parsed["firewall_name"].isNotNull() & ev["event_type"].isNotNull()
    return df.select(
        *df.columns,
        F.when(ok, parsed["firewall_name"]).alias("nf_firewall"),
        F.when(ok, parsed["availability_zone"]).alias("nf_az"),
        F.when(ok, F.timestamp_seconds(parsed["event_timestamp"].try_cast("bigint"))).alias(
            "nf_ts"
        ),
        F.when(ok, ev["event_type"]).alias("nf_event_type"),
        F.when(ok, ev["flow_id"]).alias("nf_flow_id"),
        F.when(ok, ev["src_ip"]).alias("nf_src_ip"),
        F.when(ok, ev["src_port"]).alias("nf_src_port"),
        F.when(ok, ev["dest_ip"]).alias("nf_dest_ip"),
        F.when(ok, ev["dest_port"]).alias("nf_dest_port"),
        F.when(ok, ev["proto"]).alias("nf_proto"),
        F.when(ok, ev["netflow"]["pkts"]).alias("nf_pkts"),
        F.when(ok, ev["netflow"]["bytes"]).alias("nf_bytes"),
        F.when(ok, ev["alert"]["action"]).alias("nf_alert_action"),
        F.when(ok, ev["alert"]["signature"]).alias("nf_alert_signature"),
        F.when(ok, ev["alert"]["severity"]).alias("nf_alert_severity"),
    )


GCP_LOG_ENTRY_SCHEMA = (
    "struct<textPayload: string, timestamp: string,"
    " receiveTimestamp: string, insertId: string, logName: string,"
    " severity: string, trace: string, spanId: string, traceSampled: boolean,"
    " labels: map<string,string>,"
    " resource: struct<type: string, labels: map<string,string>>>"
)


def parse_gcp_log_entry(df: DataFrame, source: str = "body") -> DataFrame:
    """Google Cloud LogEntry JSON (googlecloudlogentryencodingextension
    log_entry.go:97-121): text-or-json payload (json kept as its raw
    string, the RawMessage analogue), RFC3339 timestamps, label maps as
    sorted k=v CSVs, resource type+labels flattened. Native from_json;
    entries missing logName yield NULLs."""
    parsed = F.from_json(F.col(source), GCP_LOG_ENTRY_SCHEMA)
    ok = parsed["logName"].isNotNull()

    ts = F.try_to_timestamp(parsed["timestamp"], F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSS'Z'"))
    ts = F.coalesce(
        ts, F.try_to_timestamp(parsed["timestamp"], F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))
    )
    return df.select(
        *df.columns,
        F.when(ok, ts).alias("gl_ts"),
        F.when(ok, parsed["insertId"]).alias("gl_insert_id"),
        F.when(ok, parsed["logName"]).alias("gl_log_name"),
        F.when(ok, F.upper(parsed["severity"])).alias("gl_severity"),
        # jsonPayload is an arbitrary OBJECT (gojson.RawMessage): from_json
        # would null a string-typed field, so the raw text comes from
        # get_json_object, which returns the original JSON snippet
        F.when(
            ok,
            F.coalesce(
                parsed["textPayload"], F.get_json_object(F.col(source), "$.jsonPayload")
            ),
        ).alias("gl_body"),
        F.when(ok, parsed["textPayload"].isNotNull()).alias("gl_is_text"),
        F.when(ok, parsed["trace"]).alias("gl_trace"),
        F.when(ok, parsed["spanId"]).alias("gl_span_id"),
        F.when(ok, parsed["traceSampled"]).alias("gl_trace_sampled"),
        F.when(ok & parsed["labels"].isNotNull(), sorted_kv_csv(parsed["labels"])).alias("gl_labels_csv"),
        F.when(ok, parsed["resource"]["type"]).alias("gl_resource_type"),
        F.when(ok & parsed["resource"]["labels"].isNotNull(), sorted_kv_csv(parsed["resource"]["labels"]))
        .alias("gl_resource_labels_csv"),
    )


HEC_SCHEMA = (
    "struct<time: double, host: string, source: string, sourcetype: string,"
    " index: string, event: string, fields: map<string,string>>"
)


def parse_splunk_hec(df: DataFrame, source: str = "body") -> DataFrame:
    """Splunk HEC event JSON (receiver/splunkhecreceiver's wire shape —
    the exact inverse of render.render_splunk_hec): epoch-seconds time
    with fractional millis, optional host/source/sourcetype/index, string
    event body, fields map as the canonical sorted k=v CSV. Native
    from_json; entries without an event yield NULLs."""
    parsed = F.from_json(F.col(source), HEC_SCHEMA)
    ok = parsed["event"].isNotNull()
    # seconds double -> exact micros: multiply in decimal space (18,3 covers
    # HEC's documented millisecond resolution) to dodge float drift
    us = (parsed["time"].cast("decimal(18,3)") * 1000000).cast("long")
    fields = sorted_kv_csv(parsed["fields"])
    return df.select(
        *df.columns,
        F.when(ok, F.timestamp_micros(us)).alias("hec_ts"),
        F.when(ok, parsed["host"]).alias("hec_host"),
        F.when(ok, parsed["source"]).alias("hec_source"),
        F.when(ok, parsed["sourcetype"]).alias("hec_sourcetype"),
        F.when(ok, parsed["index"]).alias("hec_index"),
        F.when(ok, parsed["event"]).alias("hec_event_body"),
        F.when(ok & parsed["fields"].isNotNull(), fields).alias("hec_fields_csv"),
    )


_EMF_AWS_SCHEMA = (
    "struct<CloudWatchMetrics: array<struct<Namespace: string,"
    " Dimensions: array<array<string>>,"
    " Metrics: array<struct<Name: string, Unit: string>>>>,"
    " Timestamp: bigint>"
)


def parse_emf(df: DataFrame, source: str = "body") -> DataFrame:
    """CloudWatch Embedded Metric Format V1 (the awsemfexporter output —
    metric_translator.go:415-434; also what the awscloudwatchlogsexporter's
    `emf` log path forwards): the `_aws.CloudWatchMetrics` directive names
    the namespace, the dimension-key sets and the metric names/units, and
    the VALUES live as sibling top-level JSON fields. One from_json of the
    directive + one from_json of the envelope as map<string,string> (Spark
    preserves raw token text for number/object values) + one explode over
    the declared metrics; dimension values resolve through the same map.
    Emits one row per (record, metric): emf_namespace, emf_ts_ms,
    emf_dims_csv (sorted k=v over the first dimension set), emf_metric,
    emf_unit, emf_value. Records without a directive drop (the exporter
    only emits EMF when measurements exist)."""
    body = F.col(source)
    aws = F.from_json(F.get_json_object(body, "$._aws"), _EMF_AWS_SCHEMA)
    env = F.from_json(body, "map<string,string>")
    cw = F.get(aws["CloudWatchMetrics"], 0)
    step = df.select(
        *df.columns,
        cw.alias("_cw"),
        aws["Timestamp"].alias("emf_ts_ms"),
        env.alias("_env"),
    ).where(F.col("_cw").isNotNull())
    step = step.select(
        *step.columns,
        F.explode(F.col("_cw")["Metrics"]).alias("_m"),
    )
    dims_csv = F.array_join(
        F.array_sort(
            F.transform(
                F.get(F.col("_cw")["Dimensions"], 0),
                lambda k: F.concat(k, F.lit("="), F.element_at(F.col("_env"), k)),
            )
        ),
        ",",
    )
    return step.select(
        *[c for c in df.columns if c != source],
        F.col("_cw")["Namespace"].alias("emf_namespace"),
        F.col("emf_ts_ms"),
        dims_csv.alias("emf_dims_csv"),
        F.col("_m")["Name"].alias("emf_metric"),
        F.col("_m")["Unit"].alias("emf_unit"),
        F.element_at(F.col("_env"), F.col("_m")["Name"]).try_cast("double").alias("emf_value"),
    )


def parse_wavefront(df: DataFrame, source: str = "body") -> DataFrame:
    """Wavefront plaintext metric line (receiver/wavefrontreceiver/
    wavefront_parser.go:56-117): `<name> <value> [<ts>] source=<src>
    [pointTags]`. The name is optionally double-quoted (unDoubleQuote,
    :204-214); the value dispatches ParseInt-first (int datapoint slot)
    then ParseFloat; the timestamp is optional — when the third token is
    not an integer it must contain '=' (tags start there) or the line is
    malformed (:75-87). Tags are space-separated k=v where the value may
    be double-quoted with only `\\"` and `\\n` escaped (the wavefront SDK
    replacer set, :183-188); one malformed tag poisons the whole line
    (buildLabels errors, on_error=send -> NULLs). Emits wf_name, wf_value
    double, wf_is_int, wf_ts_s bigint (NULL when omitted — the reference
    stamps the non-deterministic time.Now()), wf_tags_csv sorted over the
    unescaped pairs. Pure projection, compile-once regexes."""
    line = F.col(source)
    go_num = r"(?:[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)"
    qstr = r'"(?:[^"\\]|\\.)*"'
    shape = rf"^({qstr}|\S+) ({go_num}) (.+)$"
    ok_shape = line.rlike(shape)
    name_raw, value, rest = _guarded_groups(line, shape, 3)
    tok = F.substring_index(rest, " ", 1)
    has_ts = tok.rlike(r"^[-+]?\d+$")
    ts_s = F.when(has_ts, tok.try_cast("bigint"))
    tags = F.when(
        has_ts & (F.length(rest) > F.length(tok)),
        rest.substr(F.length(tok) + 2, F.length(rest)),
    ).when(~has_ts & tok.contains("="), rest)
    pair_re = r'([^= ]+)=("(?:[^"\\]|\\.)*"|[^ ]*)'
    pairs = F.regexp_extract_all(tags, F.lit(pair_re), 0)
    residue_ok = F.trim(F.regexp_replace(tags, pair_re, "")) == ""
    tags_ok = tags.isNull() | (residue_ok & (F.size(pairs) > 0))
    # a rest that is neither a timestamp nor tag-bearing is malformed (:80-84)
    ok = ok_shape & (has_ts | tok.contains("=")) & tags_ok

    def unesc(p: Column) -> Column:
        k = F.substring_index(p, "=", 1)
        v = p.substr(F.length(k) + 2, F.length(p))
        quoted = v.rlike(r'^".*"$') & (F.length(v) > 1)
        inner = F.substring(v, 2, F.length(v) - 2)
        unescaped = F.replace(
            F.replace(inner, F.lit('\\"'), F.lit('"')), F.lit("\\n"), F.lit("\n")
        )
        return F.concat(k, F.lit("="), F.when(quoted, unescaped).otherwise(v))

    tags_csv = F.when(
        tags.isNotNull(), F.array_join(F.array_sort(F.transform(pairs, unesc)), ",")
    )
    name = F.when(
        name_raw.rlike(r'^".*"$') & (F.length(name_raw) > 1),
        F.substring(name_raw, 2, F.length(name_raw) - 2),
    ).otherwise(name_raw)
    ok = ok & (F.length(name) > 0)
    return df.select(
        *df.columns,
        F.when(ok, name).alias("wf_name"),
        F.when(ok, value.try_cast("double")).alias("wf_value"),
        F.when(ok, value.rlike(r"^[-+]?\d+$")).alias("wf_is_int"),
        F.when(ok, ts_s).alias("wf_ts_s"),
        F.when(ok, tags_csv).alias("wf_tags_csv"),
    )


_LIBHONEY_SCHEMA = "array<struct<time: string, samplerate: int, data: map<string,string>>>"


def _libhoney_event_time_us(s: Column) -> Column:
    """receiver/libhoneyreceiver/internal/eventtime/eventtime.go:16-50:
    RFC3339(Nano) first, then all-digit epochs by length (10 digits =
    seconds, 13 = milliseconds, 16 = microseconds), then float seconds.
    The reference routes >10-digit epochs and float strings through a
    float64 — this columnar form uses the exact integer path for the
    digit-length cases (the reference's float can sit 1ns under the
    integer; at microsecond resolution the exact value is the right
    answer) and floor(float * 1e6) for fractional-second strings."""
    digits = s.rlike(r"^\d+$")
    return (
        F.when(s.rlike(r"^\d{10}$"), s.try_cast("bigint") * 1_000_000)
        .when(s.rlike(r"^\d{13}$"), s.try_cast("bigint") * 1_000)
        .when(s.rlike(r"^\d{16}$"), s.try_cast("bigint"))
        .when(
            digits & (F.length(s) > 10),
            F.floor(
                F.concat(F.substring(s, 1, 10), F.lit("."), F.substring(s, 11, 99)).try_cast(
                    "double"
                )
                * 1_000_000
            ).cast("bigint"),
        )
        .when(~digits & s.rlike(r"^\d+\.\d+$"), F.floor(s.try_cast("double") * 1_000_000).cast("bigint"))
        .otherwise(F.unix_micros(F.try_to_timestamp(s)))
    )


def parse_libhoney(df: DataFrame, source: str = "body", dataset: str = "unknown") -> DataFrame:
    """Libhoney batch-events JSON (receiver/libhoneyreceiver — the POST
    /1/batch/{dataset} body): an array of `{"time": ..., "samplerate": n,
    "data": {...}}` events (internal/libhoneyevent/libhoneyevent.go:59-90;
    samplerate defaults 1). One output row per event: lh_ts_us via the
    eventtime ladder, lh_samplerate, lh_signal (`meta.signal_type` field),
    lh_service (`service.name` else the dataset — GetService,
    libhoneyevent.go:173), trace fields from the default FieldMapConfig
    names (trace.trace_id / trace.span_id / trace.parent_id / name /
    duration_ms), and lh_data_csv, the sorted k=v view of the remaining
    data keys. Two from_json + explode — pure projection."""
    ev = F.explode(F.from_json(F.col(source), _LIBHONEY_SCHEMA)).alias("_lh")
    step = df.select(*df.columns, ev)
    d = F.col("_lh")["data"]
    used = ["meta.signal_type", "service.name", "trace.trace_id", "trace.span_id",
            "trace.parent_id", "name", "duration_ms"]
    rest = F.map_filter(d, lambda k, _v: ~k.isin(*[F.lit(u) for u in used]))
    data_csv = F.array_join(
        F.array_sort(
            F.transform(F.map_entries(rest), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ",",
    )
    return step.select(
        *df.columns,
        _libhoney_event_time_us(F.col("_lh")["time"]).alias("lh_ts_us"),
        F.coalesce(F.col("_lh")["samplerate"], F.lit(1)).alias("lh_samplerate"),
        F.element_at(d, "meta.signal_type").alias("lh_signal"),
        F.coalesce(F.element_at(d, "service.name"), F.lit(dataset)).alias("lh_service"),
        F.element_at(d, "trace.trace_id").alias("lh_trace_id"),
        F.element_at(d, "trace.span_id").alias("lh_span_id"),
        F.element_at(d, "trace.parent_id").alias("lh_parent_id"),
        F.element_at(d, "name").alias("lh_name"),
        F.element_at(d, "duration_ms").try_cast("double").alias("lh_duration_ms"),
        F.when(data_csv != "", data_csv).alias("lh_data_csv"),
    )


_XRAY_SUB_SCHEMA = (
    "struct<id: string, name: string, start_time: double, end_time: double,"
    " namespace: string, http: struct<response: struct<status: bigint>>,"
    " error: boolean, fault: boolean, throttle: boolean,"
    " annotations: map<string,string>>"
)
_XRAY_SCHEMA = _XRAY_SUB_SCHEMA.replace(
    " annotations: map<string,string>>",
    " annotations: map<string,string>, trace_id: string, parent_id: string,"
    f" origin: string, subsegments: array<{_XRAY_SUB_SCHEMA}>>",
)


def _xray_otel_trace_id(tid: Column) -> Column:
    """decodeXRayTraceID (receiver/awsxrayreceiver/internal/translator/
    translator.go:218-235): '1-5f84c7a1-e7d1852db8c4fd35d88bf49a' ->
    epoch-hex[2:10] ++ random-hex[11:]; <35 chars or non-hex -> error
    (NULL here)."""
    decoded = F.concat(F.substring(tid, 3, 8), F.substring(tid, 12, 999))
    return F.when(
        tid.rlike(r"^\d-[0-9a-fA-F]{8}-[0-9a-fA-F]{24}$"), decoded
    )


def parse_xray_segment(df: DataFrame, source: str = "body") -> DataFrame:
    """AWS X-Ray segment document (internal/aws/xray/tracesegment.go:27-60
    — the JSON the awsxrayreceiver's UDP poller hands the translator, and
    what the awsxrayexporter emits): root segment plus one level of
    subsegments, one output row each. xr_trace_id is the decoded 32-hex
    OTel id (decodeXRayTraceID semantics — subsegments inherit the root's);
    xr_parent_id defaults a subsegment to its containing segment's id;
    start/end float-seconds floor to micros; error/fault/throttle coalesce
    false (absent flag == not set in the status mapping); annotations as
    the sorted k=v CSV; xr_http_status from http.response.status. Two
    from_json + one explode_outer — pure projection."""
    seg = F.from_json(F.col(source), _XRAY_SCHEMA)
    # from_json yields an all-NULL struct for non-object JSON; `id` is a
    # required segment field (tracesegment.go Validate), so gate on it
    step = df.select(*df.columns, seg.alias("_xr")).where(F.col("_xr")["id"].isNotNull())
    root = F.col("_xr")
    sub = F.col("_sub")
    step = step.select(
        *step.columns,
        F.posexplode_outer(root["subsegments"]).alias("_pos", "_sub"),
    )
    # one row for the root (position 0 of the exploded copies, or the
    # NULL-position row when there are no subsegments), plus one per sub
    is_first = F.coalesce(F.col("_pos") == 0, F.lit(True))
    # project the root down to the common subsegment shape so the union's
    # _seg column has ONE struct type
    common = F.struct(
        *[
            root[f].alias(f)
            for f in (
                "id", "name", "start_time", "end_time", "namespace", "http",
                "error", "fault", "throttle", "annotations",
            )
        ]
    )
    root_rows = step.where(is_first).select(
        *df.columns,
        common.alias("_seg"),
        F.lit(False).alias("xr_is_subsegment"),
        root["parent_id"].alias("_parent"),
        root["trace_id"].alias("_tid"),
        root["origin"].alias("_origin"),
    )
    sub_rows = step.where(sub.isNotNull()).select(
        *df.columns,
        sub.alias("_seg"),
        F.lit(True).alias("xr_is_subsegment"),
        root["id"].alias("_parent"),
        root["trace_id"].alias("_tid"),
        F.lit(None).cast("string").alias("_origin"),
    )
    both = root_rows.unionByName(sub_rows)
    s = F.col("_seg")
    ann = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(s["annotations"]),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
        ",",
    )
    return both.select(
        *df.columns,
        _xray_otel_trace_id(F.col("_tid")).alias("xr_trace_id"),
        s["id"].alias("xr_id"),
        F.col("_parent").alias("xr_parent_id"),
        s["name"].alias("xr_name"),
        F.floor(s["start_time"] * 1_000_000).cast("bigint").alias("xr_start_us"),
        F.floor(s["end_time"] * 1_000_000).cast("bigint").alias("xr_end_us"),
        F.coalesce(s["error"], F.lit(False)).alias("xr_error"),
        F.coalesce(s["fault"], F.lit(False)).alias("xr_fault"),
        F.coalesce(s["throttle"], F.lit(False)).alias("xr_throttle"),
        s["http"]["response"]["status"].alias("xr_http_status"),
        s["namespace"].alias("xr_namespace"),
        F.col("_origin").alias("xr_origin"),
        F.when(F.size(F.map_entries(s["annotations"])) > 0, ann).alias("xr_annotations_csv"),
        F.col("xr_is_subsegment"),
    )


# (upper bound, SeverityNumber, plog SeverityNumber.String()) — logs.go:433-446
_CF_SEVERITY = [
    (300, 9, "Info"),
    (400, 10, "Info2"),
    (500, 13, "Warn"),
    (600, 17, "Error"),
]


def parse_cloudflare(
    df: DataFrame,
    source: str = "body",
    timestamp_field: str = "EdgeStartTimestamp",
    timestamp_format: str = "rfc3339",
    attributes: dict[str, str] | None = None,
) -> DataFrame:
    """Cloudflare Logpush NDJSON (receiver/cloudflarereceiver/logs.go:
    225-430): one record per line; `ZoneName` becomes the cloudflare.zone
    resource attribute (:244-259); the configured timestamp field parses
    per timestamp_format unix|unixnano|rfc3339 (:268-325, config.go:44-45
    defaults EdgeStartTimestamp/rfc3339); severity derives from
    EdgeResponseStatus by century bucket (:433-446); and attributes either
    pass through wholesale or filter+rename through the config mapping
    (:354-365). Emits cf_zone, cf_ts_us, cf_severity_num/cf_severity_text,
    cf_status, cf_attrs_csv (sorted k=v over raw JSON tokens). split +
    explode + from_json — pure projection."""
    lines = F.explode(F.split(F.col(source), "\n")).alias("_line")
    step = df.select(*df.columns, lines).where(F.trim(F.col("_line")) != "")
    m = F.from_json(F.col("_line"), "map<string,string>")
    step = step.select(*df.columns, m.alias("_cf")).where(F.col("_cf").isNotNull())
    m = F.col("_cf")
    tsv = F.element_at(m, timestamp_field)
    if timestamp_format == "unix":
        ts_us = tsv.try_cast("bigint") * 1_000_000
    elif timestamp_format == "unixnano":
        ts_us = F.floor(tsv.try_cast("bigint") / 1000).cast("bigint")
    else:
        ts_us = F.unix_micros(F.try_to_timestamp(tsv))
    status = F.element_at(m, "EdgeResponseStatus").try_cast("bigint")
    sev_num: Column = F.lit(None).cast("int")
    sev_txt: Column = F.lit(None).cast("string")
    for bound, num, txt in reversed(_CF_SEVERITY):
        sev_num = F.when(status < bound, F.lit(num)).otherwise(sev_num)
        sev_txt = F.when(status < bound, F.lit(txt)).otherwise(sev_txt)
    sev_num = F.when(status >= 0, sev_num)
    sev_txt = F.when(status >= 0, sev_txt)
    if attributes:
        renames = F.map_from_entries(
            F.array(*[F.struct(F.lit(k).alias("k"), F.lit(v).alias("v")) for k, v in attributes.items()])
        )
        kept = F.map_filter(m, lambda k, _v: F.map_contains_key(renames, k))
        shown = F.transform(
            F.map_entries(kept),
            lambda e: F.concat(F.element_at(renames, e["key"]), F.lit("="), e["value"]),
        )
    else:
        shown = F.transform(
            F.map_entries(m), lambda e: F.concat(e["key"], F.lit("="), e["value"])
        )
    attrs_csv = F.array_join(F.array_sort(shown), ",")
    return step.select(
        *df.columns,
        F.element_at(m, "ZoneName").alias("cf_zone"),
        ts_us.alias("cf_ts_us"),
        sev_num.alias("cf_severity_num"),
        sev_txt.alias("cf_severity_text"),
        status.alias("cf_status"),
        F.when(attrs_csv != "", attrs_csv).alias("cf_attrs_csv"),
    )


_AM_SCHEMA = (
    "array<struct<labels: map<string,string>, annotations: map<string,string>,"
    " startsAt: string, generatorURL: string>>"
)


def parse_alertmanager(df: DataFrame, source: str = "body") -> DataFrame:
    """Alertmanager v1 alert-array JSON (the POST body
    exporter/alertmanagerexporter/alertmanager_exporter.go:295-301 sends):
    one row per alert — severity/event_name split from the label set
    (createLogLabels puts them there), Body/TraceID/SpanID split from the
    annotations (createLogAnnotations), remainders as sorted CSVs."""
    step = df.select(
        *df.columns, F.explode(F.from_json(F.col(source), _AM_SCHEMA)).alias("_al")
    )
    lab = F.col("_al")["labels"]
    ann = F.col("_al")["annotations"]

    def rest_csv(m: Column, *skip: str) -> Column:
        kept = F.map_filter(m, lambda k, _v: ~k.isin(*[F.lit(s) for s in skip]))
        csv = F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(kept), lambda e: F.concat(e["key"], F.lit("="), e["value"])
                )
            ),
            ",",
        )
        return F.when(csv != "", csv)

    return step.select(
        *df.columns,
        F.element_at(lab, "severity").alias("am_severity"),
        F.element_at(lab, "event_name").alias("am_event_name"),
        rest_csv(lab, "severity", "event_name").alias("am_labels_csv"),
        F.element_at(ann, "Body").alias("am_body"),
        F.element_at(ann, "TraceID").alias("am_trace_id"),
        F.element_at(ann, "SpanID").alias("am_span_id"),
        rest_csv(ann, "Body", "TraceID", "SpanID").alias("am_annotations_csv"),
        F.col("_al")["startsAt"].alias("am_starts_at"),
        F.col("_al")["generatorURL"].alias("am_generator_url"),
    )


_AZURE_SCHEMA = (
    "struct<records: array<struct<"
    "time: string, timeStamp: string, resourceId: string, category: string,"
    " operationName: string, operationVersion: string, level: string,"
    " durationMs: string, correlationId: string, resultType: string,"
    " resultSignature: string, resultDescription: string, tenantId: string,"
    " callerIpAddress: string, location: string,"
    " properties: map<string,string>>>>"
)

# asSeverity (pkg/translator/azure/resourcelogs_to_logs.go:169-195)
_AZURE_SEVERITY = {"Informational": 9, "Warning": 13, "Error": 17, "Critical": 21}


def parse_azure_resource_logs(df: DataFrame, source: str = "body") -> DataFrame:
    """Azure resource-log export JSON (pkg/translator/azure/
    resourcelogs_to_logs.go:75-232 — the envelope azureblobreceiver /
    azureeventhubreceiver hand the translator): `{"records": [...]}`, one
    output row per record. Timestamp prefers `time` over `timeStamp`
    (getTimestamp, :139-146); Level maps Informational/Warning/Error/
    Critical to severity 9/13/17/21, a positive numeric Level passes
    through as its own number with FormatFloat text (:119-127,169-195);
    attributes mirror extractRawAttributes (:197-226): category,
    operation, durationMs parsed to int, correlationId/resultType/
    tenantId/callerIpAddress set-if-nonempty, cloud.region from location,
    properties as the sorted raw-token CSV. from_json + explode — pure
    projection."""
    env = F.from_json(F.col(source), _AZURE_SCHEMA)
    step = df.select(*df.columns, F.explode(env["records"]).alias("_az"))
    r = F.col("_az")
    tsv = F.coalesce(F.nullif(r["time"], F.lit("")), F.nullif(r["timeStamp"], F.lit("")))
    lvl = r["level"]
    is_num = lvl.rlike(r"^\d+(\.\d+)?$")
    sev_num: Column = F.lit(None).cast("int")
    for name, num in _AZURE_SEVERITY.items():
        sev_num = F.when(lvl == name, F.lit(num)).otherwise(sev_num)
    sev_num = F.when(
        is_num & (lvl.try_cast("double") > 0), F.floor(lvl.try_cast("double")).cast("int")
    ).otherwise(sev_num)
    # numeric text via FormatFloat(-1): the raw token is already minimal
    sev_text = F.when(lvl.isNotNull(), lvl)
    props = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(F.coalesce(r["properties"], F.expr("map()"))),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
        ",",
    )
    return step.where(tsv.isNotNull()).select(
        *df.columns,
        F.unix_micros(F.try_to_timestamp(tsv)).alias("az_ts_us"),
        r["resourceId"].alias("az_resource_id"),
        r["category"].alias("az_category"),
        r["operationName"].alias("az_operation"),
        sev_num.alias("az_severity_num"),
        sev_text.alias("az_severity_text"),
        r["durationMs"].try_cast("bigint").alias("az_duration_ms"),
        F.nullif(r["correlationId"], F.lit("")).alias("az_correlation_id"),
        F.nullif(r["resultType"], F.lit("")).alias("az_result_type"),
        F.nullif(r["callerIpAddress"], F.lit("")).alias("az_caller_ip"),
        F.nullif(r["location"], F.lit("")).alias("az_cloud_region"),
        F.when(props != "", props).alias("az_props_csv"),
    )


_DD_SERIES_SCHEMA = (
    "struct<series: array<struct<metric: string, type: string, interval: bigint,"
    " host: string, tags: array<string>, points: array<array<double>>>>>"
)


def parse_datadog_series_v1(df: DataFrame, source: str = "body") -> DataFrame:
    """Datadog /api/v1/series JSON (receiver/datadogreceiver/internal/
    translator/series.go:55-117 TranslateSeriesV1): one output row per
    (series, point). Type dispatch: count -> delta sum non-monotonic,
    gauge -> gauge, rate -> delta sum with value *= interval when set
    (:64-77,102-106); an unset/unknown type skips the whole series; a
    point that is not a [ts, value] pair skips (:93-95). Timestamps are
    seconds (int64-truncated); `k:v` tags split on the FIRST colon
    (tagsToAttributes) into the sorted k=v CSV. Two explodes over one
    from_json — pure projection."""
    env = F.from_json(F.col(source), _DD_SERIES_SCHEMA)
    step = df.select(*df.columns, F.explode(env["series"]).alias("_se"))
    se = F.col("_se")
    known = se["type"].isin("count", "gauge", "rate")
    step = step.where(known).select(*df.columns, se.alias("_se"), F.explode(se["points"]).alias("_pt"))
    se, pt = F.col("_se"), F.col("_pt")
    ok_pt = F.size(pt) == 2
    ts_s = F.get(pt, 0).cast("bigint")
    raw_v = F.get(pt, 1)
    value = F.when(
        (se["type"] == "rate") & se["interval"].isNotNull(),
        raw_v * se["interval"],
    ).otherwise(raw_v)
    def _tag_kv(t: Column) -> Column:
        k = F.substring_index(t, ":", 1)
        v = t.substr(F.length(k) + 2, F.length(t))
        return F.concat(k, F.lit("="), v)

    tags_csv = F.array_join(
        F.array_sort(F.transform(F.coalesce(se["tags"], F.array()), _tag_kv)), ","
    )
    return step.where(ok_pt).select(
        *df.columns,
        se["metric"].alias("dd_metric"),
        F.when(se["type"] == "gauge", F.lit("gauge")).otherwise(F.lit("sum_delta")).alias("dd_otel_type"),
        F.lit(False).alias("dd_monotonic"),
        se["host"].alias("dd_host"),
        F.when(tags_csv != "", tags_csv).alias("dd_tags_csv"),
        ts_s.alias("dd_ts_s"),
        value.alias("dd_value"),
    )


# scraper.go:79-106 record order — (metric suffix, Go MemStats JSON field)
_EXPVAR_INT_FIELDS = [
    ("total_alloc", "TotalAlloc"), ("sys", "Sys"), ("lookups", "Lookups"),
    ("mallocs", "Mallocs"), ("frees", "Frees"), ("heap_alloc", "HeapAlloc"),
    ("heap_sys", "HeapSys"), ("heap_idle", "HeapIdle"), ("heap_inuse", "HeapInuse"),
    ("heap_released", "HeapReleased"), ("heap_objects", "HeapObjects"),
    ("stack_inuse", "StackInuse"), ("stack_sys", "StackSys"),
    ("mspan_inuse", "MSpanInuse"), ("mspan_sys", "MSpanSys"),
    ("mcache_inuse", "MCacheInuse"), ("mcache_sys", "MCacheSys"),
    ("buck_hash_sys", "BuckHashSys"), ("gc_sys", "GCSys"), ("other_sys", "OtherSys"),
    ("next_gc", "NextGC"), ("pause_total", "PauseTotalNs"),
    ("num_forced_gc", "NumForcedGC"),
]

_EXPVAR_SCHEMA = (
    "struct<memstats: struct<"
    + ", ".join(f"{go}: bigint" for _, go in _EXPVAR_INT_FIELDS)
    + ", NumGC: bigint, GCCPUFraction: double, PauseNs: array<bigint>>>"
)


def parse_expvar(df: DataFrame, source: str = "body") -> DataFrame:
    """Go /debug/vars expvar JSON -> one row per memstats metric
    (receiver/expvarreceiver/scraper.go:64-108): the 23 int64 gauges in
    record order, num_gc, gc_cpu_fraction, and last_pause =
    PauseNs[(NumGC+255)%256] — the circular-buffer read the scraper
    documents (:104-106). A body without a memstats object yields nothing
    (the scraper errors, :73-75). Metric names carry the
    process.runtime.memstats. prefix from the receiver's metadata. One
    from_json + one stack unpivot — pure projection."""
    env = F.from_json(F.col(source), _EXPVAR_SCHEMA)
    ms = env["memstats"]
    step = df.select(*df.columns, ms.alias("_ms")).where(F.col("_ms").isNotNull())
    ms = F.col("_ms")
    pairs: list[Column] = []
    for name, go in _EXPVAR_INT_FIELDS:
        pairs.append(F.lit(f"process.runtime.memstats.{name}"))
        pairs.append(ms[go].cast("double"))
    pairs.append(F.lit("process.runtime.memstats.num_gc"))
    pairs.append(ms["NumGC"].cast("double"))
    pairs.append(F.lit("process.runtime.memstats.gc_cpu_fraction"))
    pairs.append(ms["GCCPUFraction"])
    last_pause = F.get(ms["PauseNs"], ((ms["NumGC"] + 255) % 256).cast("int"))
    pairs.append(F.lit("process.runtime.memstats.last_pause"))
    pairs.append(last_pause.cast("double"))
    n = len(pairs) // 2
    unpivot = F.expr(
        f"stack({n}, " + ", ".join(f"_p{i}" for i in range(len(pairs))) + ") AS (ev_metric, ev_value)"
    )
    named = step.select(
        *df.columns, *[p.alias(f"_p{i}") for i, p in enumerate(pairs)]
    )
    return named.select(*df.columns, unpivot)


_MEZMO_SCHEMA = (
    "struct<lines: array<struct<timestamp: bigint, line: string, app: string,"
    " level: string, meta: map<string,string>>>>"
)


def parse_mezmo(df: DataFrame, source: str = "body") -> DataFrame:
    """Mezmo (LogDNA) ingest body (exporter/mezmoexporter/exporter.go:
    31-41 mezmoLogBody): `{"lines":[{timestamp ms, line, app, level,
    meta}]}` — one row per line, meta as the sorted k=v CSV with
    hostname/trace.id/span.id split out (the exporter folds them into
    meta, :95-105)."""
    env = F.from_json(F.col(source), _MEZMO_SCHEMA)
    step = df.select(*df.columns, F.explode(env["lines"]).alias("_ln"))
    ln = F.col("_ln")
    meta = F.coalesce(ln["meta"], F.expr("map()"))
    rest = F.map_filter(meta, lambda k, _v: ~k.isin("hostname", "trace.id", "span.id"))
    csv = F.array_join(
        F.array_sort(
            F.transform(F.map_entries(rest), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ",",
    )
    return step.select(
        *df.columns,
        ln["timestamp"].alias("mz_ts_ms"),
        ln["line"].alias("mz_line"),
        F.nullif(ln["app"], F.lit("")).alias("mz_app"),
        ln["level"].alias("mz_level"),
        F.element_at(meta, "hostname").alias("mz_hostname"),
        F.element_at(meta, "trace.id").alias("mz_trace_id"),
        F.when(csv != "", csv).alias("mz_meta_csv"),
    )

