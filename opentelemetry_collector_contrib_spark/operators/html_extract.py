"""HTML -> text extraction for web-scale training corpora.

Every public web-corpus pipeline (C4, RefinedWeb, FineWeb, Dolma) starts
by stripping markup from crawled HTML before any quality gate or dedup
runs. This module is that stage as a pure Catalyst projection: a fixed
chain of regexp_replace steps — drop non-content subtrees (script /
style / comments), turn block-level tags into line breaks so document
structure survives as newlines, strip the remaining tags, decode the
common HTML entities, and normalize whitespace. No UDF, no shuffle:
the whole extractor stays inside whole-stage codegen at any scale.

Two paths, same contract (the package's native/vectorized parity
convention, cf. operators/parse.py):

* ``extract_html_text``           — Catalyst-native regex chain (default).
  Handles the named/numeric entities in ``_ENTITIES`` (the set that
  covers the overwhelming share of real-web entity use).
* ``extract_html_text_vectorized`` — Arrow-batched mapInPandas twin
  using Python's ``html.unescape`` (full named + numeric entity table).
  Compiled once per executor; the fallback when exotic entities matter.

Line-level boilerplate removal (nav/footer link lines, "privacy policy"
lines) is deliberately NOT here — that is the downstream
``curation.c4_line_filter`` / ``conv_qa.turn_boilerplate`` stage; this
operator only makes text out of markup, preserving line structure for
those gates.

Scale notes: one projection over the raw column; Java regex with
non-greedy ``.*?`` is linear on these anchored patterns (no nested
quantifiers -> no catastrophic backtracking). Malformed markup degrades
gracefully: unclosed inline tags strip to nothing, an unterminated
<script> drops to end-of-document (the conservative choice for
non-content), stray ``<`` that never closes is left as text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Entity decode table, applied in order. `&amp;` MUST be last so that
# `&amp;lt;` decodes to the literal text `&lt;` (double-escaping survives
# one decode pass, matching html.unescape's single-pass semantics on
# already-decoded input).
_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&#160;", " "),
    ("&copy;", "©"),
    ("&reg;", "®"),
    ("&trade;", "™"),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&hellip;", "…"),
    ("&lsquo;", "‘"),
    ("&rsquo;", "’"),
    ("&ldquo;", "“"),
    ("&rdquo;", "”"),
    ("&amp;", "&"),
)

# Subtrees whose *content* is never document text.
_DROP_SUBTREES = r"(?is)<(script|style|noscript|template|svg|iframe)\b[^>]*>.*?</\1\s*>"
# An unterminated non-content open tag swallows to end-of-string
# (conservative: better to lose a truncated tail than to ship JS as text).
_DROP_UNTERMINATED = r"(?is)<(script|style|noscript|template|svg|iframe)\b[^>]*>.*$"
_DROP_COMMENTS = r"(?s)<!--.*?-->"
# Block-level elements: both open and close tags become line breaks.
_BLOCK_TAGS = (
    r"(?i)</?(p|div|br|hr|li|ul|ol|dl|dt|dd|h[1-6]|tr|td|th|table|thead|tbody|tfoot|"
    r"caption|blockquote|pre|section|article|header|footer|nav|aside|main|figure|"
    r"figcaption|form|fieldset|legend|address|details|summary|title|head|body|html)\b[^>]*>"
)
_ANY_TAG = r"(?s)<[^>]*>"


def _decode_entities(col: Column) -> Column:
    for ent, ch in _ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def _normalize_ws(col: Column) -> Column:
    # Collapse horizontal runs, strip spaces hugging line breaks, collapse
    # blank lines, trim the ends. Mirrors the oracle's normalization exactly.
    col = F.regexp_replace(col, r"[ \t\r\f ]+", " ")
    col = F.regexp_replace(col, r" ?\n ?", "\n")
    col = F.regexp_replace(col, r"\n+", "\n")
    return F.regexp_replace(col, r"(?s)^\s+|\s+$", "")


def html_to_text(col: Column) -> Column:
    """The extraction chain as a Column expression (composable)."""
    col = F.regexp_replace(col, _DROP_COMMENTS, "")
    col = F.regexp_replace(col, _DROP_SUBTREES, "")
    col = F.regexp_replace(col, _DROP_UNTERMINATED, "")
    col = F.regexp_replace(col, _BLOCK_TAGS, "\n")
    col = F.regexp_replace(col, _ANY_TAG, "")
    col = _decode_entities(col)
    return _normalize_ws(col)


def html_title(col: Column) -> Column:
    """<title> content, entity-decoded and whitespace-normalized; '' when absent."""
    t = F.regexp_extract(col, r"(?is)<title[^>]*>(.*?)</title\s*>", 1)
    return _normalize_ws(_decode_entities(t))


def extract_html_text(
    df: DataFrame,
    source: str = "html",
    out_col: str = "html_text",
    title_col: str | None = "html_title",
    links_col: str | None = "n_links",
) -> DataFrame:
    """Native path: markup -> (text, title, link count) columns.

    ``n_links`` counts anchor *open tags* in the raw markup — the signal
    quality gates use for link-density boilerplate scoring (RefinedWeb's
    link-ratio heuristic) — before any stripping, so it is exact even
    when the anchor text is dropped later.
    """
    src = F.col(source)
    out = df.withColumn(out_col, html_to_text(src))
    if title_col:
        out = out.withColumn(title_col, html_title(src))
    if links_col:
        out = out.withColumn(links_col, F.regexp_count(src, F.lit(r"(?i)<a\b")).cast("int"))
    return out


# Oracle of tests/test_html_extract.py::test_native_vectorized_parity.
def extract_html_text_vectorized(
    df: DataFrame,
    source: str = "html",
    out_col: str = "html_text",
    title_col: str | None = "html_title",
    links_col: str | None = "n_links",
) -> DataFrame:
    """Arrow-batched twin with the full Python entity table.

    Same regex chain compiled ONCE per executor (module-level in the
    worker closure, the package's pattern-bank convention); entities via
    ``html.unescape`` so every named + numeric form decodes. Identical
    output to the native path on the ``_ENTITIES`` subset (pytest-gated
    parity); beyond it (e.g. ``&Uuml;``, ``&#x1F600;``) only this path
    decodes.
    """
    import pandas as pd  # noqa: F401  (schema clarity; used by mapInPandas batches)

    from pyspark.sql import types as T

    fields = list(df.schema.fields) + [T.StructField(out_col, T.StringType())]
    if title_col:
        fields.append(T.StructField(title_col, T.StringType()))
    if links_col:
        fields.append(T.StructField(links_col, T.IntegerType()))
    schema = T.StructType(fields)

    drop_sub, drop_unterm, drop_comm, block, any_tag = (
        _DROP_SUBTREES, _DROP_UNTERMINATED, _DROP_COMMENTS, _BLOCK_TAGS, _ANY_TAG,
    )

    def _extract(batches):
        import html as _html
        import re

        # Java inline (?i)/(?s) flags + \1 backrefs are valid Python regex
        # syntax too; compile once per executor process.
        rx_comm = re.compile(drop_comm)
        rx_sub = re.compile(drop_sub)
        rx_unterm = re.compile(drop_unterm)
        rx_block = re.compile(block)
        rx_tag = re.compile(any_tag)
        rx_title = re.compile(r"(?is)<title[^>]*>(.*?)</title\s*>")
        rx_href = re.compile(r"(?i)<a\b")
        rx_hws = re.compile(r"[ \t\r\f ]+")
        rx_nl = re.compile(r" ?\n ?")
        rx_nls = re.compile(r"\n+")

        def norm(s: str) -> str:
            s = rx_hws.sub(" ", s)
            s = rx_nl.sub("\n", s)
            s = rx_nls.sub("\n", s)
            return s.strip()

        def text_of(s: str) -> str:
            s = rx_comm.sub("", s)
            s = rx_sub.sub("", s)
            s = rx_unterm.sub("", s)
            s = rx_block.sub("\n", s)
            s = rx_tag.sub("", s)
            return norm(_html.unescape(s))

        for pdf in batches:
            raw = pdf[source].fillna("")
            pdf = pdf.copy()
            pdf[out_col] = raw.map(text_of)
            if title_col:
                pdf[title_col] = raw.map(
                    lambda s: norm(_html.unescape(m.group(1))) if (m := rx_title.search(s)) else ""
                )
            if links_col:
                pdf[links_col] = raw.map(lambda s: len(rx_href.findall(s))).astype("int32")
            yield pdf

    return df.mapInPandas(_extract, schema)


def synthesize_html_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic HTML wrapping of a text corpus (fixture synthesis).

    The registry's encode->decode convention (cf. avro/otlp synthesizers):
    the page embeds the escaped document text plus boilerplate chrome the
    extractor must discard — a <script> containing both a comparison `<`
    and a decoy `</div>` string, a <style> block, an HTML comment, nav
    links — and per-doc variants (extra inline anchor on doc_id%3==0, an
    unclosed <b> on doc_id%5==0) so the oracle exercises inline-tag and
    malformed-markup handling. All pure codegen concat.
    """
    t = F.col(text_col)
    esc = F.replace(t, F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    esc = F.replace(esc, F.lit('"'), F.lit("&quot;"))
    esc = F.replace(esc, F.lit("'"), F.lit("&#39;"))

    did = F.col("doc_id").cast("string")
    para = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.concat(F.lit("<b>note:</b> "), esc),
    ).otherwise(esc)
    extra_link = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(F.lit(' <a href="/ref/'), did, F.lit('">ref</a>')),
    ).otherwise(F.lit(""))

    html = F.concat(
        F.lit('<!DOCTYPE html><html><head><meta charset="utf-8"><title>Doc '),
        did,
        F.lit(" &mdash; "),
        F.col("source"),
        F.lit("</title><style>body { margin:0; color:#222; }</style>"),
        F.lit('<script type="text/javascript">if (1<2) { var decoy="</div>"; }</script>'),
        F.lit('</head><body><nav><ul><li>Home</li><li><a href="/about">About</a></li></ul></nav>'),
        F.lit("<!-- chrome boilerplate --><h1>Doc "),
        did,
        F.lit('</h1><div class="content"><p>'),
        para,
        extra_link,
        F.lit('</p><p><a href="/doc/'),
        did,
        F.lit('">Read&nbsp;more</a></p></div>'),
        F.lit("<footer>&copy; 2026 Example &amp; Co.</footer></body></html>"),
    )
    return docs.withColumn("html", html)
