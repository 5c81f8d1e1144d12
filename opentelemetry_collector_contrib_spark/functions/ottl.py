"""OTTL function registry → Spark Column expressions.

The reference registers 121 function factories (16 editors + 105 converters)
into its parser at startup (pkg/ottl/ottlfuncs/functions.go:11-39) and
interprets them per record. Here every OTTL function that has a vectorized
Spark equivalent is a Column-builder: the "compilation" the reference does
once at startup (transformprocessor/internal/logs/processor.go:26-45) is our
Column-tree construction, and Catalyst + whole-stage codegen replace the
per-record interpreter.

Naming follows the OTTL converter names (pkg/ottl/ottlfuncs/func_<name>.go).
Editors that mutate a record (`set`, `delete_key`, ...) are exposed in
operators/transform.py as DataFrame-level actions; this module is the scalar
function surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnFn = Callable[..., Column]

OTTL_FUNCTIONS: dict[str, ColumnFn] = {}


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x) if isinstance(x, str) else F.lit(x)


# --- string (func_concat.go, func_format.go, func_split.go, ...) -----------
OTTL_FUNCTIONS.update(
    {
        # value varargs: a plain str is a LITERAL (OTTL string literals are
        # values, func_concat.go) — pass F.col(...) explicitly for columns
        "Concat": lambda sep, *cols: F.concat_ws(
            sep, *[(c if isinstance(c, Column) else F.lit(c)) for c in cols]
        ),
        "Format": lambda fmt, *cols: F.format_string(
            fmt, *[(c if isinstance(c, Column) else F.lit(c)) for c in cols]
        ),
        "Split": lambda col, sep: F.split(_c(col), sep),
        "Substring": lambda col, start, length: F.substring(_c(col), start + 1, length),
        "Trim": lambda col, cut=" ": F.trim(_c(col)) if cut == " " else F.btrim(_c(col), F.lit(cut)),
        "TrimPrefix": lambda col, p: F.when(
            _c(col).startswith(p), F.expr(f"substring({_sql(col)}, {len(p) + 1})")
        ).otherwise(_c(col)),
        "TrimSuffix": lambda col, s: F.when(
            _c(col).endswith(s), F.substring(_c(col), F.lit(1), F.length(_c(col)) - len(s))
        ).otherwise(_c(col)),
        "ToLowerCase": lambda col: F.lower(_c(col)),
        "ToUpperCase": lambda col: F.upper(_c(col)),
        "ConvertCase": lambda col, to: {"lower": F.lower, "upper": F.upper, "camel": F.initcap, "snake": lambda c: F.lower(F.regexp_replace(c, "([a-z0-9])([A-Z])", r"$1_$2"))}[to](_c(col)),
        "ToCamelCase": lambda col: F.initcap(_c(col)),
        "ToSnakeCase": lambda col: F.lower(F.regexp_replace(_c(col), "([a-z0-9])([A-Z])", r"$1_$2")),
        "HasPrefix": lambda col, p: _c(col).startswith(p),
        "HasSuffix": lambda col, s: _c(col).endswith(s),
        "Find": lambda col, sub: F.locate(sub, _c(col)) - 1,  # OTTL is 0-based
        "Len": lambda col: F.length(_c(col)),
        "IsMatch": lambda col, pattern: _c(col).rlike(pattern),
        "IsString": lambda col: _c(col).cast("string").isNotNull(),
        "IsEmpty": lambda col: (F.length(_c(col)) == 0) | _c(col).isNull(),
        # func_is_list.go / func_is_map.go — runtime type checks; Spark
        # types are static per column, so typeof() is constant per input
        # and the checks stay inside codegen
        "IsList": lambda col: F.startswith(F.typeof(_c(col)), F.lit("array")),
        "IsMap": lambda col: F.startswith(F.typeof(_c(col)), F.lit("map")),
    }
)


def _sql(col) -> str:
    return col if isinstance(col, str) else str(col)


# --- regex / parse ----------------------------------------------------------
OTTL_FUNCTIONS.update(
    {
        # func_extract_patterns.go — named-capture regex → map. In Spark we
        # return one column per requested group (columnar > map at scale).
        "ExtractPatterns": lambda col, pattern, group=1: F.regexp_extract(_c(col), pattern, group),
        "ParseJSON": lambda col, schema: F.from_json(_c(col), schema),
        "ParseKeyValue": lambda col, pair_delim=" ", kv_delim="=": F.str_to_map(_c(col), F.lit(pair_delim), F.lit(kv_delim)),
        "ParseCSV": lambda col, schema, sep=",": F.from_csv(_c(col), schema, {"sep": sep}),
        "ParseInt": lambda col, base=10: F.conv(_c(col), base, 10).try_cast("long") if base != 10 else _c(col).try_cast("long"),
        "URL": lambda col, part="HOST": F.parse_url(_c(col), F.lit(part)),
        "Decode": lambda col, enc="base64": F.unbase64(_c(col)) if enc == "base64" else F.decode(_c(col), enc),
        "Base64Decode": lambda col: F.unbase64(_c(col)).cast("string"),
        "Base64Encode": lambda col: F.base64(_c(col).cast("binary")),
        "Unquote": lambda col: F.regexp_replace(_c(col), '^"(.*)"$', "$1"),
    }
)

# --- datetime (func_time.go, func_truncate_time.go, func_duration.go, ...) --
OTTL_FUNCTIONS.update(
    {
        "Time": lambda col, fmt: F.to_timestamp(_c(col), fmt),
        "FormatTime": lambda col, fmt: F.date_format(_c(col), fmt),
        "TruncateTime": lambda col, unit: F.date_trunc(unit, _c(col)),
        "Now": lambda: F.current_timestamp(),
        "Unix": lambda col: F.unix_timestamp(_c(col)),
        "UnixSeconds": lambda col: F.unix_timestamp(_c(col)),
        "UnixMilli": lambda col: F.unix_millis(_c(col)),
        "UnixMicro": lambda col: F.unix_micros(_c(col)),
        "UnixNano": lambda col: F.unix_micros(_c(col)) * 1000,
        "Year": lambda col: F.year(_c(col)),
        "Month": lambda col: F.month(_c(col)),
        "Day": lambda col: F.dayofmonth(_c(col)),
        "Weekday": lambda col: F.dayofweek(_c(col)) - 1,
        "Hour": lambda col: F.hour(_c(col)),
        "Minute": lambda col: F.minute(_c(col)),
        "Second": lambda col: F.second(_c(col)),
    }
)

# --- math / type ------------------------------------------------------------
OTTL_FUNCTIONS.update(
    {
        "Int": lambda col: _c(col).try_cast("long"),
        "Double": lambda col: _c(col).try_cast("double"),
        "String": lambda col: _c(col).cast("string"),
        "Bool": lambda col: _c(col).try_cast("boolean"),
        "Hex": lambda col: F.hex(_c(col)),
        "Log": lambda col: F.log(_c(col)),
        "IsInt": lambda col: _c(col).try_cast("long").isNotNull(),
        "IsDouble": lambda col: _c(col).try_cast("double").isNotNull(),
        "IsBool": lambda col: _c(col).try_cast("boolean").isNotNull(),
    }
)

# --- hash / id (func_sha256.go, func_murmur3hash.go, func_xxh3.go, ...) -----
# Spark's hash() IS murmur3_x86_32; xxhash64 is native JVM-side.
OTTL_FUNCTIONS.update(
    {
        "SHA1": lambda col: F.sha1(_c(col).cast("binary")),
        "SHA256": lambda col: F.sha2(_c(col).cast("binary"), 256),
        "SHA512": lambda col: F.sha2(_c(col).cast("binary"), 512),
        "MD5": lambda col: F.md5(_c(col).cast("binary")),
        "Murmur3Hash": lambda col: F.hash(_c(col)),
        "XXH64": lambda col: F.xxhash64(_c(col)),
        "UUID": lambda: F.expr("uuid()"),
    }
)

# --- map / array — near 1:1 with Spark higher-order functions ---------------
OTTL_FUNCTIONS.update(
    {
        "Keys": lambda col: F.map_keys(_c(col)),
        "Values": lambda col: F.map_values(_c(col)),
        "Sort": lambda col, desc=False: F.sort_array(_c(col), asc=not desc),
        "Index": lambda col, i: F.element_at(_c(col), i + 1),
        "SliceToMap": lambda keys, values: F.map_from_arrays(_c(keys), _c(values)),
        "ContainsValue": lambda col, v: F.array_contains(_c(col), v),
        "Append": lambda col, v: F.array_append(_c(col), v),
        "Coalesce": lambda *cols: F.coalesce(*[_c(c) for c in cols]),
        "MapEach": lambda col, fn: F.transform(_c(col), fn),
        "MapKeys": lambda col, fn: F.transform_keys(_c(col), lambda k, _v: fn(k)),
        "Filter": lambda col, fn: F.filter(_c(col), fn),
        "Reduce": lambda col, init, merge: F.aggregate(_c(col), _c(init), merge),
        "All": lambda col, fn: F.forall(_c(col), fn),
        "Any": lambda col, fn: F.exists(_c(col), fn),
        "Flatten": lambda col: F.flatten(_c(col)),
    }
)

# --- map editors (ottlfuncs editors over MapType columns) -------------------
# The engine promotes hot keys to typed columns (SURVEY §1.4), but parsed
# open maps (key_value_parser, ParseJSON to map) keep the editor surface.


def _glob_to_like(pattern: str) -> str:
    """OTTL's replace_*_matches take filepath.Match globs; SQL LIKE covers
    the * and ? forms used in practice."""
    return pattern.replace("%", r"\%").replace("_", r"\_").replace("*", "%").replace("?", "_")


OTTL_FUNCTIONS.update(
    {
        # func_delete_matching_keys.go / func_keep_matching_keys.go
        "DeleteMatchingKeys": lambda col, pattern: F.map_filter(_c(col), lambda k, _v: ~k.rlike(pattern)),
        "KeepMatchingKeys": lambda col, pattern: F.map_filter(_c(col), lambda k, _v: k.rlike(pattern)),
        # func_delete_index (slices)
        "DeleteIndex": lambda col, i: F.filter(_c(col), lambda _x, j: j != i),
        # func_limit.go — cap map size, keeping iteration-order-first entries
        "Limit": lambda col, n: F.map_from_entries(F.slice(F.map_entries(_c(col)), 1, n)),
        # func_merge_maps.go — strategy 'upsert' (right wins), the default
        "MergeMaps": lambda a, b: F.map_concat(
            F.map_filter(_c(a), lambda k, _v: ~F.array_contains(F.map_keys(_c(b)), k)), _c(b)
        ),
        # func_replace_all_matches.go / func_replace_all_patterns.go
        "ReplaceAllMatches": lambda col, glob, rep: F.transform_values(
            _c(col), lambda _k, v: F.when(v.like(_glob_to_like(glob)), F.lit(rep)).otherwise(v)
        ),
        "ReplaceAllPatterns": lambda col, pattern, rep: F.transform_values(
            _c(col), lambda _k, v: F.regexp_replace(v, pattern, rep)
        ),
        # func_replace_match.go / func_replace_pattern.go (scalar forms)
        "ReplaceMatch": lambda col, glob, rep: F.when(
            _c(col).like(_glob_to_like(glob)), F.lit(rep)
        ).otherwise(_c(col)),
        "ReplacePattern": lambda col, pattern, rep: F.regexp_replace(_c(col), pattern, rep),
        # func_stringify_all.go / func_truncate_all.go
        "StringifyAll": lambda col: F.transform_values(_c(col), lambda _k, v: v.cast("string")),
        "TruncateAll": lambda col, n: F.transform_values(_c(col), lambda _k, v: F.substring(v, 1, n)),
        # func_to_key_value_string.go
        "ToKeyValueString": lambda col, pair_sep=" ", kv_sep="=": F.array_join(
            F.transform(F.map_entries(_c(col)), lambda e: F.concat(e["key"], F.lit(kv_sep), e["value"])),
            pair_sep,
        ),
    }
)

# --- XML family (func_parse_xml.go, func_parse_simplified_xml.go,
# func_get_xml.go) — Spark 4 ships from_xml + the xpath_* family natively.
OTTL_FUNCTIONS.update(
    {
        # ParseXML: full parse to a typed struct ("_attr" fields carry
        # attributes, matching from_xml's attributePrefix='_' default)
        "ParseXML": lambda col, schema: F.from_xml(_c(col), schema),
        # ParseSimplifiedXML: the reference flattens to text content only —
        # declare a text-content schema and from_xml does the same
        "ParseSimplifiedXML": lambda col, schema: F.from_xml(_c(col), schema),
        # GetXML: xpath subset extraction
        "GetXML": lambda col, xp: F.xpath_string(_c(col), F.lit(xp)),
        "GetXMLInt": lambda col, xp: F.xpath_long(_c(col), F.lit(xp)),
        "GetXMLAll": lambda col, xp: F.xpath(_c(col), F.lit(xp)),
    }
)

# --- duration converters (math.go time arithmetic; durations as seconds) ----
OTTL_FUNCTIONS.update(
    {
        "Hours": lambda col: _c(col) / 3600.0,
        "Minutes": lambda col: _c(col) / 60.0,
        "Seconds": lambda col: _c(col).cast("double"),
        "Milliseconds": lambda col: _c(col) * 1000.0,
        "Microseconds": lambda col: _c(col) * 1000000.0,
        "Nanoseconds": lambda col: (_c(col) * 1000000000).cast("long"),
        "Nanosecond": lambda col: (F.unix_micros(_c(col)) % 1000000) * 1000,  # of a timestamp
    }
)

# --- telemetry-specific ------------------------------------------------------


def _ipv4_to_long(ip) -> Column:
    octs = F.split(_c(ip), r"\.")
    out = F.lit(0).cast("long")
    for i in range(4):
        out = out * 256 + F.element_at(octs, i + 1).cast("long")
    return out


def _is_in_cidr(ip, cidr: str) -> Column:
    """func_is_in_cidr (IPv4): prefix compare via integer shift — stays in
    codegen, and the arithmetic is engine-portable for the oracle."""
    base, bits_s = cidr.split("/")
    bits = int(bits_s)
    shift = 32 - bits
    base_long = 0
    for part in base.split("."):
        base_long = base_long * 256 + int(part)
    return F.shiftright(_ipv4_to_long(ip), shift) == F.lit(base_long >> shift)


def _luhn_valid(col) -> Column:
    """func_is_valid_luhn: checksum over the digit string, vectorized —
    reverse the digits, double every second one, subtract 9 when >9, sum
    % 10 == 0. Pure array expressions, no UDF."""
    chars = F.filter(F.split(F.regexp_replace(_c(col).cast("string"), r"\D", ""), ""), lambda d: d != "")
    digits = F.reverse(F.transform(chars, lambda d: d.cast("int")))
    summed = F.aggregate(
        F.zip_with(
            digits,
            F.sequence(F.lit(0), F.greatest(F.size(digits) - 1, F.lit(0))),
            lambda d, i: F.when(i % 2 == 1, F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d),
        ),
        F.lit(0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0)),
    )
    return (F.size(digits) > 1) & (summed % 10 == 0)


def _duration_seconds(col) -> Column:
    """func_duration.go — Go duration string ('1h2m3.5s', '250ms') →
    seconds as double. Per-unit regexp extraction; (?!s) guards keep 'm'
    from eating 'ms'. Vectorized, no UDF.

    A string that is not a valid duration yields NULL (the reference's
    Duration converter errors on malformed input; on_error=send maps to
    null here) — without the whole-string gate, every unit regexp simply
    misses and a malformed value would alias a genuine 0s duration."""
    s = _c(col)
    # Go grammar: optional whole-duration sign, terms with int/frac/.frac
    # magnitudes, units h m s ms us µs ns; bare '0' is the one unitless
    # legal duration (time.ParseDuration)
    num = r"(\d+(\.\d*)?|\.\d+)"
    valid = s.rlike(r"^[+-]?(0|(" + num + r"(ms|us|µs|ns|h|m|s))+)$")
    sign = F.when(s.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))

    def unit(u: str) -> Column:
        # extract_all + fold: Go permits a unit to repeat ('1h2h' == 3h)
        vs = F.regexp_extract_all(s, F.lit(r"(\d+(?:\.\d*)?|\.\d+)" + u), 1)
        return F.aggregate(vs, F.lit(0.0), lambda acc, x: acc + x.cast("double"))

    # plain-seconds needs digits ADJACENT to 's', so 'ms'/'us'/'ns' can
    # never match it; only m-vs-ms needs the explicit (?!s) guard
    total = (
        unit(r"h") * 3600
        + unit(r"m(?!s)") * 60
        + unit(r"s")
        + unit(r"ms") / 1e3
        + unit(r"us") / 1e6
        + unit(r"µs") / 1e6
        + unit(r"ns") / 1e9
    )
    return F.when(valid, sign * total)


def _hex_id(col, n_chars: int) -> Column:
    """func_trace_id/span_id/profile_id — canonical lowercase hex id of the
    exact width, else NULL (the reference errors on malformed ids; columnar
    on_error=send maps to null)."""
    low = F.lower(F.trim(_c(col).cast("string")))
    return F.when(low.rlike(f"^[0-9a-f]{{{n_chars}}}$"), low)


def _be_bytes(val: Column, n_hex: int) -> Column:
    """Big-endian fixed-width bytes of an integer via hex round-trip."""
    return F.unhex(F.lpad(F.hex(val), n_hex, "0"))


def _community_id(src_ip, dst_ip, src_port, dst_port, proto: int = 6, seed: int = 0) -> Column:
    """func_community_id.go (v1, IPv4): canonical flow hash —
    '1:' || base64(sha1(seed·ip1·ip2·proto·0·port1·port2)) with the
    (ip, port) pairs ordered so both flow directions hash identically.
    All byte assembly is hex/unhex inside codegen; no UDF."""
    s_ip, d_ip = _ipv4_to_long(src_ip), _ipv4_to_long(dst_ip)
    s_pt, d_pt = _c(src_port).cast("long"), _c(dst_port).cast("long")
    flip = (s_ip > d_ip) | ((s_ip == d_ip) & (s_pt > d_pt))
    ip1, ip2 = F.when(flip, d_ip).otherwise(s_ip), F.when(flip, s_ip).otherwise(d_ip)
    pt1, pt2 = F.when(flip, d_pt).otherwise(s_pt), F.when(flip, s_pt).otherwise(d_pt)
    payload = F.concat(
        _be_bytes(F.lit(seed).cast("long"), 4),
        _be_bytes(ip1, 8),
        _be_bytes(ip2, 8),
        _be_bytes(F.lit(proto).cast("long"), 2),
        F.unhex(F.lit("00")),
        _be_bytes(pt1, 4),
        _be_bytes(pt2, 4),
    )
    return F.concat(F.lit("1:"), F.base64(F.unhex(F.sha1(payload))))


def _parse_severity(col) -> Column:
    """func_parse_severity.go — alias → canonical level text (same chain as
    operators/parse.severity_parser)."""
    from ..operators.parse import SEVERITY_ALIASES

    src = F.lower(_c(col).cast("string"))
    chain = F.when(F.lit(False), F.lit(None).cast("string"))
    for alias, canon in SEVERITY_ALIASES.items():
        chain = chain.when(src == alias, F.lit(canon))
    return chain.otherwise(F.lit(None).cast("string"))


OTTL_FUNCTIONS.update(
    {
        # func_is_root_span.go: parent span id is all-zero
        "IsRootSpan": lambda parent: _c(parent).isNull() | (_c(parent) == ""),
        "IsInCIDR": _is_in_cidr,
        "IsValidLuhn": _luhn_valid,
        # func_when.go — inline conditional value
        "When": lambda cond, a, b=None: F.when(_c(cond), _c(a)).otherwise(_c(b)),
        "Duration": _duration_seconds,
        "ParseSeverity": _parse_severity,
        "TraceID": lambda col: _hex_id(col, 32),
        "SpanID": lambda col: _hex_id(col, 16),
        "ProfileID": lambda col: _hex_id(col, 32),
        "CommunityID": _community_id,
    }
)


def _user_agent(col) -> Column:
    """func_user_agent.go, REDUCED: the reference embeds the ua-parser
    definition database; this is a deterministic major-family extractor
    (browser, version, os) covering the common agents — enough for the
    log-pipeline dimensioning use, NOT a full ua-parser replacement."""
    s = _c(col).cast("string")

    def first_match(pairs: list[tuple[str, str]], default: str) -> Column:
        chain = F.when(F.lit(False), F.lit(None).cast("string"))
        for pat, name in pairs:
            chain = chain.when(s.rlike(pat), F.lit(name))
        return chain.otherwise(F.lit(default))

    # detection order matters (Edge/Opera UAs also contain 'Chrome/'); the
    # VERSION must come from the DETECTED family's own token, not the
    # leftmost version-looking substring
    families = [
        (r"Edg[e/]", "Edge", r"Edge?/(\d+[\w.]*)"),
        # Version/ fallback covers pre-Blink Opera ('Opera/9.80 ... Version/12.16')
        (r"OPR/|Opera", "Opera", r"(?:OPR/|Version/)(\d+[\w.]*)"),
        (r"Chrome/", "Chrome", r"Chrome/(\d+[\w.]*)"),
        (r"Firefox/", "Firefox", r"Firefox/(\d+[\w.]*)"),
        (r"Safari/", "Safari", r"Version/(\d+[\w.]*)"),
        (r"curl/", "curl", r"curl/(\d+[\w.]*)"),
        (r"(?i)bot|crawler|spider", "Bot", None),
    ]
    browser = first_match([(pat, name) for pat, name, _v in families], "Other")
    version = F.lit(None).cast("string")
    chain = F.when(F.lit(False), version)
    for pat, _name, vpat in families:
        v = F.nullif(F.regexp_extract(s, vpat, 1), F.lit("")) if vpat else F.lit(None).cast("string")
        chain = chain.when(s.rlike(pat), v)
    version = chain.otherwise(F.lit(None).cast("string"))
    os_name = first_match(
        [
            (r"Windows NT", "Windows"),
            (r"Android", "Android"),
            (r"iPhone|iPad|iOS", "iOS"),
            (r"Mac OS X|Macintosh", "macOS"),
            (r"Linux", "Linux"),
        ],
        "Other",
    )
    return F.struct(browser.alias("browser"), version.alias("version"), os_name.alias("os"))


OTTL_FUNCTIONS["UserAgent"] = _user_agent


def _extract_grok_patterns(col, pattern, named_captures_only=True, pattern_definitions=None):
    """ExtractGrokPatterns(target, pattern, namedCapturesOnly, definitions)
    → struct of typed captures (func_extract_grok_patterns.go:39-130).
    The grok text compiles once at plan build (the pattern is a literal —
    the same compile-once contract as the reference); unmatched rows and
    non-participating groups are NULL. The bank-scale path is
    operators/grok.grok_parser; this is the per-statement Column form."""
    from ..operators.grok import compile_grok

    cg = compile_grok(pattern, pattern_definitions, named_captures_only)
    s = _c(col)
    matched = s.rlike(cg.regex)
    out = []
    for fname, idx, typ in cg.fields:
        v = F.when(matched, F.nullif(F.regexp_extract(s, cg.regex, idx), F.lit("")))
        if typ != "string":
            v = v.try_cast(typ)  # per-record NULL, never an ANSI job abort
        out.append(v.alias(fname))
    return F.struct(*out)


OTTL_FUNCTIONS["ExtractGrokPatterns"] = _extract_grok_patterns


# --- hash converters (pure-Python, reference-vector-validated) --------------
# func_fnv.go, func_murmur3_hash128.go, func_xxh3.go, func_xxh128.go. These
# run as Arrow-batched pandas UDFs (no JVM equivalent exists for these exact
# algorithms); the engine's hot-path hashing stays on xxhash64/sha2/h60.

def _fnv(col) -> Column:
    from .hashes import fnv1a_64, hash_batch_udf

    return hash_batch_udf(fnv1a_64, "bigint")(_c(col))


def _murmur3_hash128(col) -> Column:
    from .hashes import hash_batch_udf, murmur3_128_hex

    return hash_batch_udf(murmur3_128_hex, "string")(_c(col))


def _xxh3(col) -> Column:
    from .hashes import hash_batch_udf, xxh3_64_hex

    return hash_batch_udf(xxh3_64_hex, "string")(_c(col))


def _xxh128(col) -> Column:
    from .hashes import hash_batch_udf, xxh3_128_hex

    return hash_batch_udf(xxh3_128_hex, "string")(_c(col))


def _uuid_v7() -> Column:
    """UUIDv7 (func_uuidv7.go; RFC 9562 §5.7): 48-bit unix-epoch
    milliseconds, version nibble 7, variant '10', 74 random bits. The
    timestamp is the query-start clock (current_timestamp is fixed per
    query — the same freeze the reference applies per batch); randomness
    is per-row."""
    ms = F.unix_millis(F.current_timestamp())
    h = F.lpad(F.lower(F.hex(ms)), 12, "0")
    r3a = F.lpad(F.lower(F.hex((F.rand() * 4096).cast("int"))), 3, "0")
    r3b = F.lpad(F.lower(F.hex((F.rand() * 4096).cast("int"))), 3, "0")
    r12 = F.lpad(F.lower(F.hex((F.rand() * F.lit(float(2**48))).cast("bigint"))), 12, "0")
    variant = F.element_at(
        F.array(F.lit("8"), F.lit("9"), F.lit("a"), F.lit("b")),
        (F.rand() * 4).cast("int") + 1,
    )
    return F.concat(
        F.substring(h, 1, 8), F.lit("-"), F.substring(h, 9, 4), F.lit("-7"),
        r3a, F.lit("-"), variant, r3b, F.lit("-"), r12,
    )


def _insert_xml(col, xpath, subdoc) -> Column:
    from .xmledit import insert_xml

    return insert_xml(_c(col), xpath, _c(subdoc))


def _remove_xml(col, xpath) -> Column:
    from .xmledit import remove_xml

    return remove_xml(_c(col), xpath)


def _convert_attributes_to_elements_xml(col, xpath="//@*") -> Column:
    from .xmledit import convert_attributes_to_elements_xml

    return convert_attributes_to_elements_xml(_c(col), xpath)


def _convert_text_to_elements_xml(col, xpath="/", element_name="value") -> Column:
    from .xmledit import convert_text_to_elements_xml

    return convert_text_to_elements_xml(_c(col), xpath, element_name)


OTTL_FUNCTIONS.update(
    {
        "FNV": _fnv,
        "Murmur3Hash128": _murmur3_hash128,
        "XXH3": _xxh3,
        "XXH128": _xxh128,
        "UUIDv7": _uuid_v7,
        "InsertXML": _insert_xml,
        "RemoveXML": _remove_xml,
        "ConvertAttributesToElementsXML": _convert_attributes_to_elements_xml,
        "ConvertTextToElementsXML": _convert_text_to_elements_xml,
    }
)


def call(name: str, *args) -> Column:
    """Invoke a registered OTTL function by its reference name."""
    return OTTL_FUNCTIONS[name](*args)
