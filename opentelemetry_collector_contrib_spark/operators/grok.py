"""Grok pattern dialect: ``%{PATTERN:field:type}`` → Catalyst columns.

Reference semantics — ``ExtractGrokPatterns``
(pkg/ottl/ottlfuncs/func_extract_grok_patterns.go:39-130):
  - pattern may be raw regex with ``(?P<name>...)`` named captures, or grok
    ``%{NAME}`` / ``%{NAME:field}`` / ``%{NAME:field:type}`` references
  - custom definitions as ``NAME=regex`` strings (':' forbidden in NAME,
    func_extract_grok_patterns.go:47-67)
  - ``named_captures_only``: bare ``%{NAME}`` does not emit a field; with the
    flag off it emits a field named NAME (go-grok compile flag,
    func_extract_grok_patterns.go:70-77)
  - compile ONCE when the pattern is a literal; error if named-captures-only
    yields zero capture groups (func_extract_grok_patterns.go:80-84)
  - typed captures ``:int`` / ``:float`` / ``:bool`` → typed values
    (ParseTypedString, func_extract_grok_patterns.go:105-125)
  - match is a SEARCH (anywhere in the string), not a full anchor; a
    non-matching row yields no keys → all fields NULL here
    (func_extract_grok_patterns_test.go:38-44 "no pattern found")

Spark-first design. The grok text is compiled by OUR translator (no grok
library exists in-sandbox, and shipping one per-row would be the anti-
pattern anyway) into a single DIALECT-PORTABLE regex: every semantic
capture becomes a plain indexed group ``(...)`` and everything else is
non-capturing, so the identical pattern string runs under Java regex
(Spark codegen), RE2 (the DuckDB oracle), and Python ``re`` (the
vectorized mapInPandas path). The compiler returns the field → group-index
map; extraction is then:

  native path   — one ``rlike`` gate + ONE ``regexp_replace`` rewriting the
                  whole line to its captured groups joined by ``\\x01`` +
                  one ``split`` (k fields cost 1 regex execution, not k).
                  Rows that already contain the ``\\x01`` separator byte
                  fall back to per-group ``regexp_extract`` in the same
                  projection (the separator-collision guard — see
                  parse.parse_native's docstring for the failure mode).
  vectorized    — mapInPandas; the bank compiles once per executor process
                  at closure creation, never per row/batch.

Empty-capture convention: a group that did not participate in the match is
indistinguishable from an empty participating capture under Java/RE2
indexed extraction, so BOTH paths normalize '' → NULL — matching the
reference's "key absent from the result map" for optional groups.

The pattern library below reproduces the *semantics* of the public
logstash/go-grok core set, rewritten RE2-safe (no lookbehind, no atomic
groups, no backrefs) and with every internal group non-capturing.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Core pattern library (logstash/go-grok semantics, RE2/Java/Python-portable)
# --------------------------------------------------------------------------
GROK_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?[0-9]+",
    "NONNEGINT": r"[0-9]+",
    "POSINT": r"\b[1-9][0-9]*\b",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "QUOTEDSTRING": r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')",
    "QS": r"%{QUOTEDSTRING}",
    "IPV4": r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(?:\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}",
    # simplified (full RFC4291 grammar omitted; compressed forms accepted)
    "IPV6": r"(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}|(?:[0-9A-Fa-f]{1,4}:)+:(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4})*)?",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "YEAR": r"(?:\d\d){1,2}",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "DAY": r"\b(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)\b",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "DATE": r"(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "TZ": r"(?:[A-Z]{2,5}|[+-]\d{2}:?\d{2})",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo(?:rmation)?|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|[Ee]merg(?:ency)?|EMERG(?:ENCY)?)",
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]*",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\[\]<>-]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]*)+",
    "WINPATH": r"(?:[A-Za-z]:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "EMAILLOCALPART": r"[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~.]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] "
        r"\"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response} (?:%{NUMBER:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    # remainder of the legacy grok-patterns base set (public logstash
    # patterns file / go-grok defaults), closing the library to the names
    # a stock ExtractGrokPatterns config can reference:
    "BASE16FLOAT": r"\b(?:0[xX])?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)\b",
    "MONTHNUM2": r"0[1-9]|1[0-2]",
    "ISO8601_SECOND": r"%{SECOND}",
    "HOST": r"%{HOSTNAME}",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    "CISCOMAC": r"(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "TTY": r"/dev/(?:pts|tty(?:[pq])?)(?:\w+)?/?(?:[0-9]+)",
    # single % before the hex escape: the compiler treats '%' not followed
    # by '{' as a literal, so no doubling (percent-encoded chars must match)
    "URN": r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:(?:%[0-9a-fA-F]{2}|[0-9A-Za-z()+,.:=@;$_!*'/?#-])+",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "HTTPDUSER": r"%{EMAILADDRESS}|%{USER}",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    # modern aliases (the patterns file renamed the apache pair)
    "HTTPD_COMMONLOG": r"%{COMMONAPACHELOG}",
    "HTTPD_COMBINEDLOG": r"%{COMBINEDAPACHELOG}",
    # ----------------------------------------------------------------------
    # round 4: close the library to the full public default set a stock
    # ExtractGrokPatterns config can name (go-grok defaults == the legacy
    # logstash base file + the linux-syslog / httpd / java companion sets
    # community expressions lean on). All entries are RE2-safe rewrites —
    # no lookaround, no backrefs — so the same text compiles under Java,
    # RE2 (DuckDB oracle) and Python `re`. SYSLOGPAMSESSION's upstream
    # lookahead is replaced by a plain capture of the same span.
    # ----------------------------------------------------------------------
    "BOOLEAN": r"\b(?:[Tt]rue|[Ff]alse)\b",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "SYSLOGBASE2": r"(?:%{SYSLOGTIMESTAMP:timestamp}|%{TIMESTAMP_ISO8601:timestamp8601}) (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource}(?: %{SYSLOGPROG}:)?",
    "SYSLOGLINE": r"%{SYSLOGBASE2} %{GREEDYDATA:message}",
    "SYSLOGPAMSESSION": r"%{SYSLOGBASE} %{WORD:pam_module}\(%{DATA:pam_caller}\): session %{WORD:pam_session_state} for user %{USERNAME:username}(?: by %{GREEDYDATA:pam_by})?",
    "CRON_ACTION": r"[A-Z ]+",
    "CRONLOG": r"%{SYSLOGBASE} \(%{USER:user}\) %{CRON_ACTION:action} \(%{DATA:message}\)",
    "SYSLOG5424PRINTASCII": r"[!-~]+",
    "SYSLOG5424PRI": r"<%{NONNEGINT:syslog5424_pri}>",
    "SYSLOG5424SD": r"\[%{DATA}\]+",
    "SYSLOG5424BASE": (
        r"%{SYSLOG5424PRI}%{NONNEGINT:syslog5424_ver} +"
        r"(?:%{TIMESTAMP_ISO8601:syslog5424_ts}|-) +"
        r"(?:%{IPORHOST:syslog5424_host}|-) +"
        r"(?:%{SYSLOG5424PRINTASCII:syslog5424_app}|-) +"
        r"(?:%{SYSLOG5424PRINTASCII:syslog5424_proc}|-) +"
        r"(?:%{SYSLOG5424PRINTASCII:syslog5424_msgid}|-) +"
        r"(?:%{SYSLOG5424SD:syslog5424_sd}|-|)"
    ),
    "SYSLOG5424LINE": r"%{SYSLOG5424BASE} +%{GREEDYDATA:syslog5424_msg}",
    # httpd error logs (2.0 and 2.4 formats + the union alias)
    "HTTPD20_ERRORLOG": r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] (?:\[client %{IPORHOST:clientip}\] )?%{GREEDYDATA:message}",
    "HTTPD24_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[(?:%{WORD:module})?:?%{LOGLEVEL:loglevel}\] "
        r"\[pid %{POSINT:pid}(?::tid %{NONNEGINT:tid})?\]"
        r"(?: \(%{POSINT:proxy_errorcode}\)%{DATA:proxy_message}:)?"
        r"(?: \[client %{IPORHOST:clientip}:%{POSINT:clientport}\])?"
        r"(?: %{DATA:errorcode}:)? %{GREEDYDATA:message}"
    ),
    "HTTPD_ERRORLOG": r"(?:%{HTTPD20_ERRORLOG}|%{HTTPD24_ERRORLOG})",
    # java / tomcat
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVAFILE": r"(?:[a-zA-Z$_0-9. -]+)",
    "JAVAMETHOD": r"(?:<(?:cl)?init>|[a-zA-Z$_][a-zA-Z$_0-9]*)",
    "JAVATHREAD": r"(?:[A-Z]{2}-Processor[0-9]+)",
    "JAVALOGMESSAGE": r"(?:.*)",
    "JAVASTACKTRACEPART": r"%{SPACE}at %{JAVACLASS:class}\.%{JAVAMETHOD:method}\(%{JAVAFILE:file}(?::%{NUMBER:line})?\)",
    "CATALINA_DATESTAMP": r"%{MONTH} %{MONTHDAY}, %{YEAR} %{HOUR}:%{MINUTE}:%{SECOND} (?:AM|PM)",
    "CATALINALOG": r"%{CATALINA_DATESTAMP:timestamp} %{JAVACLASS:class} %{JAVALOGMESSAGE:logmessage}",
    "TOMCAT_DATESTAMP": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:%{MINUTE}:%{SECOND}(?:[,.][0-9]+)?",
    "TOMCATLOG": r"%{TOMCAT_DATESTAMP:timestamp} \| %{LOGLEVEL:level} \| %{JAVACLASS:class} - %{JAVALOGMESSAGE:logmessage}",
}

_GROK_TYPES = {"int": "bigint", "long": "bigint", "float": "double",
               "double": "double", "bool": "boolean", "boolean": "boolean",
               "string": "string"}

_REF_RE = re.compile(r"%\{(\w+)(?::([\w.@\[\]-]+))?(?::(\w+))?\}")
_NAMED_OPEN_RE = re.compile(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>")


class GrokError(ValueError):
    pass


@dataclass(frozen=True)
class CompiledGrok:
    """The portable regex plus the (field, group-index, spark-type) map."""
    regex: str
    fields: tuple[tuple[str, int, str], ...]


def compile_grok(
    pattern: str,
    definitions: list[str] | None = None,
    named_captures_only: bool = True,
) -> CompiledGrok:
    """Translate a grok pattern to one portable indexed-group regex.

    Walks the pattern text tracking capturing-group indices: semantic
    ``%{NAME:field}`` refs and raw ``(?P<name>...)`` / ``(?<name>...)``
    named groups become plain ``(...)`` (recorded with their index);
    bare ``%{NAME}`` becomes ``(?:...)`` under named_captures_only, else a
    field named NAME. Character classes are skipped verbatim (a ``(`` in
    ``[...]`` is a literal). Anonymous raw ``(...)`` groups keep their
    index slot but emit no field (go-grok never returns unnamed captures).
    """
    lib = dict(GROK_PATTERNS)
    for i, d in enumerate(definitions or []):
        name, eq, rhs = d.partition("=")
        if not eq:
            raise GrokError(
                f"pattern {d[:17]!r} at index {i} has incorrect format, "
                "expecting PATTERNNAME=pattern definition"
            )
        if ":" in name:
            raise GrokError(f"pattern ID {name!r} should not contain ':'")
        lib[name] = rhs

    fields: list[tuple[str, int, str]] = []
    state = {"count": 0}

    def expand(src: str, depth: int) -> str:
        if depth > 50:
            raise GrokError("grok pattern recursion too deep (cycle in definitions?)")
        out: list[str] = []
        i, n = 0, len(src)
        while i < n:
            c = src[i]
            if c == "\\" and i + 1 < n:
                out.append(src[i : i + 2])
                i += 2
                continue
            if c == "%":
                m = _REF_RE.match(src, i)
                if m:
                    name, sem, typ = m.group(1), m.group(2), m.group(3)
                    if name not in lib:
                        raise GrokError(f"unknown grok pattern %{{{name}}}")
                    if typ and typ not in _GROK_TYPES:
                        raise GrokError(f"unsupported grok capture type {typ!r}")
                    capture_as = sem if sem else (None if named_captures_only else name)
                    if capture_as is not None:
                        state["count"] += 1
                        fields.append((capture_as, state["count"], _GROK_TYPES.get(typ or "string", "string")))
                        out.append("(" + expand(lib[name], depth + 1) + ")")
                    else:
                        out.append("(?:" + expand(lib[name], depth + 1) + ")")
                    i = m.end()
                    continue
            if c == "[":
                # copy the character class verbatim; ']' literal if first
                j = i + 1
                if j < n and src[j] == "^":
                    j += 1
                if j < n and src[j] == "]":
                    j += 1
                while j < n and src[j] != "]":
                    j += 2 if src[j] == "\\" else 1
                out.append(src[i : j + 1])
                i = j + 1
                continue
            if c == "(":
                nm = _NAMED_OPEN_RE.match(src, i)
                if nm:
                    state["count"] += 1
                    fields.append((nm.group(1), state["count"], "string"))
                    out.append("(")
                    i = nm.end()
                    continue
                if i + 1 < n and src[i + 1] == "?":
                    out.append(c)  # (?: (?= (?! (?i) … — non-capturing
                    i += 1
                    continue
                state["count"] += 1  # anonymous capture: index slot, no field
                out.append("(")
                i += 1
                continue
            out.append(c)
            i += 1
        return "".join(out)

    regex = expand(pattern, 0)
    if named_captures_only and not fields:
        raise GrokError("at least 1 named capture group must be supplied in the given regex")
    # duplicate semantic names are legal (alternation-union patterns like
    # %{HTTPD_ERRORLOG} name `timestamp` in every branch; Go 1.22 regexp
    # accepts the same); the scalar contract is "first participating
    # (non-empty) group wins". Conflicting declared TYPES stay an error.
    typ_by_name: dict[str, str] = {}
    for fname, _, typ in fields:
        if typ_by_name.setdefault(fname, typ) != typ:
            raise GrokError(f"duplicate capture name {fname!r} with conflicting types")
    return CompiledGrok(regex=regex, fields=tuple(fields))


_SEP = "\x01"


def grok_parser(
    df: DataFrame,
    source: str,
    pattern: str,
    definitions: list[str] | None = None,
    named_captures_only: bool = True,
) -> DataFrame:
    """ExtractGrokPatterns as one Catalyst projection (the native path).

    One ``rlike`` gate + one ``regexp_replace`` (whole line → captured
    groups joined by \\x01) + one ``split``; rows containing the separator
    byte fall back to per-group ``regexp_extract`` in a ``when`` branch, so
    adversarial payloads cannot shift fields. Unmatched rows → all NULL;
    empty captures → NULL (see module docstring). Typed captures cast
    JVM-side (try-cast semantics via the portable '' → NULL normalization).
    """
    cg = compile_grok(pattern, definitions, named_captures_only)
    clash = {f for f, _, _ in cg.fields} & set(df.columns)
    if clash:
        raise GrokError(
            f"capture name(s) {sorted(clash)} collide with input columns — "
            "the reference writes into a fresh attribute map, the columnar "
            "surface adds columns; rename the capture (%{PAT:other_name})"
        )
    s = F.col(source)
    matched = s.rlike(cg.regex)
    sep_free = ~s.contains(_SEP)
    # whole-line rewrite: leftmost match's groups, prefix/suffix dropped
    tpl = _SEP.join(f"${idx}" for _, idx, _ in cg.fields)
    # scoped (?s:) so only the wrapper dots cross newlines — the user
    # pattern keeps grok's dot-no-newline semantics
    wrapped = "^(?s:.*?)(?:" + cg.regex + ")(?s:.*)$"
    arr = F.split(F.regexp_replace(s, wrapped, tpl), _SEP)
    # duplicate names (alternation unions): first participating group wins
    by_name: dict[str, list[tuple[int, int, str]]] = {}
    order: list[str] = []
    for pos, (fname, idx, typ) in enumerate(cg.fields):
        if fname not in by_name:
            order.append(fname)
        by_name.setdefault(fname, []).append((pos, idx, typ))
    cols: list[Column] = []
    for fname in order:
        variants = []
        typ = by_name[fname][0][2]
        for pos, idx, _t in by_name[fname]:
            fast = arr[pos]
            slow = F.regexp_extract(s, cg.regex, idx)
            v = F.when(matched & sep_free, fast).when(matched, slow)
            variants.append(F.nullif(v, F.lit("")))
        v = F.coalesce(*variants) if len(variants) > 1 else variants[0]
        if typ != "string":
            # try_cast, not cast: a capture that doesn't parse as its
            # declared type is a per-record NULL (the reference errors
            # per-record), never an ANSI-mode job abort
            v = v.try_cast(typ)
        cols.append(v.alias(fname))
    return df.select("*", *cols)


# Oracle of the both-paths tests in tests/test_grok.py (test_vectorized_matches_native ...).
def grok_parser_vectorized(
    df: DataFrame,
    source: str,
    pattern: str,
    definitions: list[str] | None = None,
    named_captures_only: bool = True,
) -> DataFrame:
    """Same contract over mapInPandas — compile-once-per-executor
    (func_extract_grok_patterns.go:70-77), Arrow-batched, never per-row
    Python. Exists for patterns beyond the Java dialect and as the parity
    exhibit for the native path."""
    cg = compile_grok(pattern, definitions, named_captures_only)
    clash = {f for f, _, _ in cg.fields} & set(df.columns)
    if clash:
        raise GrokError(
            f"capture name(s) {sorted(clash)} collide with input columns — "
            "rename the capture (%{PAT:other_name})"
        )
    # duplicate names coalesce to the first participating group (same
    # contract as the native path)
    grouped: dict[str, tuple[list[int], str]] = {}
    order: list[str] = []
    for fname, idx, typ in cg.fields:
        if fname not in grouped:
            order.append(fname)
            grouped[fname] = ([], typ)
        grouped[fname][0].append(idx)
    spark_fields = [(f, grouped[f][1]) for f in order]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(
                f,
                {"bigint": T.LongType(), "double": T.DoubleType(),
                 "boolean": T.BooleanType()}.get(t, T.StringType()),
                True,
            )
            for f, t in spark_fields
        ]
    )
    regex = cg.regex
    fields = [(f, grouped[f][0], grouped[f][1]) for f in order]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        creg = re.compile(regex)  # once per executor task-closure, not per row

        def extract(text: str | None) -> tuple:
            if text is None:
                return (None,) * len(fields)
            m = creg.search(text)
            if not m:
                return (None,) * len(fields)
            out = []
            for _f, idxs, _t in fields:
                v = None
                for i in idxs:
                    v = m.group(i) or None
                    if v is not None:
                        break
                out.append(v)
            return tuple(out)

        # typed-capture coercions mirror Spark try_cast so both paths stay
        # value-identical: bigint accepts only [+-]?digits (no '42.5'),
        # boolean accepts the t/true/y/yes/1 / f/false/n/no/0 families,
        # double accepts anything Python float() does; failures are NULL
        int_re = re.compile(r"[+-]?\d+")
        true_s = {"t", "true", "y", "yes", "1"}
        false_s = {"f", "false", "n", "no", "0"}

        def to_int(v):
            if v is None or not int_re.fullmatch(v.strip()):
                return None
            x = int(v)
            return x if -(1 << 63) <= x < (1 << 63) else None  # try_cast overflow → NULL

        def to_double(v):
            if v is None:
                return None
            try:
                return float(v)
            except ValueError:
                return None

        def to_bool(v):
            if v is None:
                return None
            lv = v.strip().lower()
            return True if lv in true_s else (False if lv in false_s else None)

        for pdf in batches:
            tup = pdf[source].map(extract)
            for k, (fname, _idxs, typ) in enumerate(fields):
                col = tup.map(lambda t, _k=k: t[_k])
                if typ == "bigint":
                    col = col.map(to_int).astype("Int64")
                elif typ == "double":
                    col = col.map(to_double).astype("float64")
                elif typ == "boolean":
                    col = col.map(to_bool)
                pdf[fname] = col
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
