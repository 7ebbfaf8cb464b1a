"""Boilerplate / text extraction from the ``html`` binary column.

The north-star pipeline's stage 0 is "boilerplate/text extraction" over a
Common-Crawl-style pages table ``(url, warc_ts, html binary, text, lang)``,
with *byte-identical extracted text per url* as the row-level invariant.
The reference consumes pre-extracted text (its eval CSVs carry column 2 as
plain text — ``candidate_extraction/triples_from_text.py`` never parses
HTML), so the extractor's contract here is: given the page's HTML, rebuild
the ``text`` column byte-for-byte.

Three faces of ONE spec table (the same discipline as
:mod:`seq2kg_spark.functions.text_clean`):

* :func:`html_to_text_py` — the executable Python spec.
* :func:`html_to_text_expr` — the production path: a chain of pure Catalyst
  ``regexp_replace``/``replace`` expressions compiled from the spec table.
  No UDF, no Python in the loop — at 100 TB this is one whole-stage-codegen
  projection over the scan.
* :func:`html_to_text_duckdb` — the DuckDB SQL twin generated from the SAME
  table, used by the driver's cross-engine oracle (``html_extract``).

Engine-portability constraints honored by every pattern in the table
(Java ``Pattern``, RE2/DuckDB, and Python ``re`` must all agree):

* no backreferences (RE2 has none) — per-tag patterns are expanded instead
  of ``</\\1>``;
* inline flags limited to ``(?is)`` (supported identically by all three);
* whitespace is always the explicit ASCII class ``[ \\t\\r\\n\\x0b\\f]``
  (Python ``\\s`` is Unicode, Java/RE2 ``\\s`` is ASCII — never use bare
  ``\\s`` in a cross-engine pattern).

Spec (deliberately simple and total — a deterministic function of the
bytes, not a browser):

1. strip HTML comments and a doctype prologue;
2. drop *container* elements wholesale — scripts/styles plus boilerplate
   chrome (``head``, ``nav``, ``footer``, ``aside``, ``form`` …), first
   matching close tag wins (nested same-name containers are out of spec);
3. void line-break tags (``<br>``, ``<hr>``) and closing block tags
   (``</p>``, ``</div>``, ``</li>``, headings, …) become ``\\n``;
4. every remaining tag is deleted;
5. the five XML named entities plus ``&nbsp;`` are decoded (``&amp;``
   LAST, so escaped ampersands cannot double-decode); numeric character
   references are out of spec (the wrapper never emits them);
6. whitespace runs containing a newline collapse to one ``\\n``; leading /
   trailing whitespace is trimmed.

``html_escape_text``/``wrap_page_html`` are the inverse used by the corpus
builder, so ``html_to_text(wrap(text)) == text`` holds byte-for-byte for
any single-line text — the pytest invariant over the whole pages corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ASCII whitespace, spelled out (see module doc).
_WS = " \\t\\r\\n\\x0b\\f"

# Elements dropped with their entire contents.  Order matters only for
# nesting (script/style first so a <script> inside <head> can't leave a
# dangling close tag after <head>'s non-greedy match stops early).
_DROP_TAGS = (
    "script", "style", "noscript", "template", "svg", "iframe",
    "head", "nav", "footer", "aside", "form",
)

# Closing tags that terminate a text block -> newline.
_BLOCK_TAGS = (
    "p", "div", "li", "tr", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "section", "article", "table", "ul", "ol",
    "dd", "dt",
)

# (pattern, replacement) applied in order; all three engines see the same
# pattern string.  Replacements are literals (no group refs — RE2-safe).
HTML_REGEX_STEPS: list[tuple[str, str]] = (
    [("(?s)<!--.*?-->", ""), ("(?i)<!doctype[^>]*>", "")]
    + [(f"(?is)<{t}\\b[^>]*>.*?</{t}[{_WS}]*>", "") for t in _DROP_TAGS]
    + [("(?is)<(?:br|hr)[{ws}]*/?>".format(ws=_WS), "\n")]
    + [(
        "(?is)</(?:" + "|".join(_BLOCK_TAGS) + f")[{_WS}]*>",
        "\n",
    )]
    + [("(?s)</?[a-zA-Z][^>]*>", "")]
)

# Literal entity decodes, &amp; last (see module doc).
HTML_ENTITY_STEPS: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

# Whitespace normalization (regex, applied after entities).
HTML_WS_STEPS: list[tuple[str, str]] = [
    # any whitespace run containing a newline -> one newline
    (f"[{_WS}]*[\\r\\n][{_WS}]*", "\n"),
    # trim
    (f"^[{_WS}]+|[{_WS}]+$", ""),
]


def html_to_text_py(html: bytes | str) -> str:
    """Executable spec: the exact function the Catalyst chain must match."""
    s = html.decode("utf-8") if isinstance(html, (bytes, bytearray)) else html
    for pat, rep in HTML_REGEX_STEPS:
        s = re.sub(pat, rep, s)
    for lit, rep in HTML_ENTITY_STEPS:
        s = s.replace(lit, rep)
    for pat, rep in HTML_WS_STEPS:
        s = re.sub(pat, rep, s)
    return s


def decode_html_expr(col: Column) -> Column:
    """binary → string, LENIENTLY.

    ``F.decode(col, 'UTF-8')`` raises MALFORMED_CHARACTER_CODING under ANSI
    mode on the first invalid byte — real crawl HTML contains plenty, and at
    100 TB one bad page must not kill the stage.  A binary→string CAST wraps
    the bytes without validation (invalid sequences flow through opaquely;
    the extraction regexes never match them), which is the crawl-safe
    behavior.  The Python spec is defined on valid UTF-8 only.
    """
    return col.cast("string")


def html_to_text_expr(col: Column) -> Column:
    """Production path: pure Catalyst chain over a STRING column.

    (Decode the binary column first with :func:`decode_html_expr` — kept
    outside so callers with string HTML skip the decode.)
    """
    c = col
    for pat, rep in HTML_REGEX_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for lit, rep in HTML_ENTITY_STEPS:
        c = F.replace(c, F.lit(lit), F.lit(rep))
    for pat, rep in HTML_WS_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return c


def with_page_text(df: DataFrame) -> DataFrame:
    """Stage-0 text: pages that arrive with raw HTML only (``text`` IS
    NULL) get it extracted inline from ``html`` — a pure Catalyst
    projection, so batch and streaming plans share it.  A frame without
    an ``html`` column is returned as is."""
    if "html" not in df.columns:
        return df
    return df.withColumn(
        "text",
        F.coalesce(F.col("text"),
                   html_to_text_expr(decode_html_expr(F.col("html")))),
    )


def _sql_str(s: str) -> str:
    """DuckDB E-string literal for a pattern/replacement."""
    body = (
        s.replace("\\", "\\\\")
        .replace("'", "''")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )
    return f"e'{body}'"


def html_to_text_duckdb(expr: str) -> str:
    """DuckDB SQL expression computing the SAME function of ``expr``.

    Generated from the shared spec tables so the two engines cannot drift
    independently of each other.
    """
    c = expr
    for pat, rep in HTML_REGEX_STEPS:
        c = f"regexp_replace({c}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    for lit, rep in HTML_ENTITY_STEPS:
        c = f"replace({c}, {_sql_str(lit)}, {_sql_str(rep)})"
    for pat, rep in HTML_WS_STEPS:
        c = f"regexp_replace({c}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return c


# --------------------------------------------------------------------------
# Inverse: the corpus builder's wrapper (and its SQL twin, so the oracle
# can synthesize identical HTML inside both engines from the documents
# table — the driver pre-registers only the testdata tables).
# --------------------------------------------------------------------------

def html_escape_text(text: str) -> str:
    """Minimal escape matching HTML_ENTITY_STEPS' decode set (& first)."""
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wrap_page_html(text: str, title: str | None = None) -> str:
    """Deterministic page template around escaped ``text``.

    Exercises every spec family: comment, doctype, dropped containers
    (head/style/nav/script/footer), a block close tag, entities.
    """
    t = html_escape_text(title if title is not None else text[:40])
    return (
        "<!DOCTYPE html><!-- synthetic -->"
        f"<html><head><title>{t}</title>"
        "<style>p{color:#222}</style></head>"
        '<body><nav><a href="/">Home</a></nav>'
        f"<p>{html_escape_text(text)}</p>"
        "<script>var x = 1 < 2;</script>"
        "<footer>(c) synth.example</footer></body></html>"
    )


def wrap_page_html_expr(col: Column, title: Column | None = None) -> Column:
    """Catalyst twin of :func:`wrap_page_html` (escape via chained replace)."""
    esc = F.replace(col, F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    if title is None:
        title = F.substring(col, 1, 40)
    tesc = F.replace(title, F.lit("&"), F.lit("&amp;"))
    tesc = F.replace(tesc, F.lit("<"), F.lit("&lt;"))
    tesc = F.replace(tesc, F.lit(">"), F.lit("&gt;"))
    return F.concat(
        F.lit("<!DOCTYPE html><!-- synthetic --><html><head><title>"),
        tesc,
        F.lit("</title><style>p{color:#222}</style></head>"
              '<body><nav><a href="/">Home</a></nav><p>'),
        esc,
        F.lit("</p><script>var x = 1 < 2;</script>"
              "<footer>(c) synth.example</footer></body></html>"),
    )


def wrap_page_html_duckdb(expr: str, title_expr: str | None = None) -> str:
    """DuckDB twin of :func:`wrap_page_html`."""
    esc = (f"replace(replace(replace({expr}, '&', '&amp;'),"
           " '<', '&lt;'), '>', '&gt;')")
    if title_expr is None:
        title_expr = f"substring({expr}, 1, 40)"
    tesc = (f"replace(replace(replace({title_expr}, '&', '&amp;'),"
            " '<', '&lt;'), '>', '&gt;')")
    return (
        "'<!DOCTYPE html><!-- synthetic --><html><head><title>' || "
        + tesc
        + " || '</title><style>p{color:#222}</style></head>"
        '<body><nav><a href="/">Home</a></nav><p>' + "' || "
        + esc
        + " || '</p><script>var x = 1 < 2;</script>"
        "<footer>(c) synth.example</footer></body></html>'"
    )
