"""HTML → text extraction, map-only — the stage between a web crawl and
every text operator in this engine (RefinedWeb/C4 run trafilatura/
jusText here; the reference's closest analogue is its per-record
translate/grep rewrite chain, `logpipe-output-es.c:543-596`).

Sandbox-honest scope: a REGEX extractor, not a DOM parser — it removes
script/style/comment blocks, turns block-level closers into newlines,
strips remaining tags, decodes the common entity subset, and collapses
whitespace. That covers the boilerplate classes that dominate crawl
bytes; what it does NOT do (DOM-aware main-content detection, encoding
sniffing) is a library swap behind the same column contract, exactly
like the multimodal decode seams (`operators/multimodal.py`).

Scale shape: one chain of RE2-safe ``regexp_replace`` expressions —
pure whole-stage codegen, zero shuffles, zero Python, and every pattern
is mirrorable by the SQL oracle (both engines: non-greedy ``.*?`` under
``(?is)``, no backreferences, no lookaround)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (pattern, replacement) chain — ORDER MATTERS: block elisions first
#: (their bodies must not leak tags/text), then structural newlines,
#: then the generic tag strip, then entities, then whitespace.
HTML_RULES: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr)\b[^>]*>", "\n"),
    (r"(?s)<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    # &amp; strictly LAST of the entities: decoding it earlier would
    # double-decode '&amp;lt;' into '<'
    (r"&amp;", "&"),
    (r"[ \t\r\f]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{2,}", "\n"),
]


def strip_html(html: Column) -> Column:
    """Extracted text of an HTML column: the ``HTML_RULES`` chain plus a
    final trim. One fused expression — Catalyst folds consecutive
    regexp_replace calls into a single codegen stage."""
    out = html
    for pat, rep in HTML_RULES:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def html_rules_sql(col_sql: str) -> str:
    """The identical chain as a nested ANSI/DuckDB SQL expression (RE2
    accepts every pattern; 'g' makes regexp_replace global to match
    Spark's replace-all default)."""
    out = col_sql
    for pat, rep in HTML_RULES:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''").replace("\\", "\\\\")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return f"trim({out})"


def extract_text(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Column-level extraction over a corpus: adds ``text`` plus its
    length ``text_chars`` (the first quality signal downstream filters
    key on)."""
    txt = strip_html(F.col(html_col))
    return df.select(
        "*", txt.alias("text"), F.length(txt).alias("text_chars")
    )
