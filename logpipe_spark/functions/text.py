"""Scalar/string functions mirroring the reference's §2.4 surface, as pure
Catalyst expressions (every one codegen-able, zero Python).

| here | reference |
|---|---|
| pack_metadata / unpack_metadata | filter-pack/unpack-metadata (`src-plugins/logpipe-filter-pack-metadata.c:5-7`, unpack parse loop :79-140 — its 6-char key compare and strnlen offset bugs are intentionally NOT reproduced) |
| grep_contains | ES `grep` keep-filter (`logpipe-output-es.c:610-617`) |
| translate_charset | `tr`-style charset → separator (`logpipe-output-es.c:620-626`) |
| tokenize | separator-charset field split, runs collapse (`logpipe-output-es.c:628-661`) |
| fields_strictly | drop rows with too few fields (`logpipe-output-es.c:663-668`) |
| template_nsub | `$N` template instantiation, `$0` = routing key (`logpipe-output-es.c:277-305,464-517`) |
| date_path | `%Y%M%D%h%m%s` path expansion (`src/util.c:364-444`; its un-1-offset `%M` month bug at :396 NOT reproduced) |
| filename_key_cut | ingeek key derivation: first K sep-joined words (`logpipe-output-ingeek.c:448-494`) |
| recode | iconv charset conversion (`src/util.c:449-522`) |
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def pack_metadata(
    system: Column, server: Column, filename: Column, offset: Column, line: Column
) -> Column:
    """`[[system=…][server=…][filename=…][offset=…][line=…]]` header string.
    Provided for wire-compat with reference-formatted logs; inside the
    engine metadata stays in typed columns (never string-packed)."""
    return F.concat(
        F.lit("[[system="), F.coalesce(system, F.lit("")),
        F.lit("][server="), F.coalesce(server, F.lit("")),
        F.lit("][filename="), F.coalesce(filename, F.lit("")),
        F.lit("][offset="), F.coalesce(offset.cast("string"), F.lit("")),
        F.lit("][line="), F.coalesce(line.cast("string"), F.lit("")),
        F.lit("]]"),
    )


_UNPACK_PAT = (
    r"^\[\[system=([^\]]*)\]\[server=([^\]]*)\]\[filename=([^\]]*)\]"
    r"\[offset=(\d*)\]\[line=(\d*)\]\](.*)$"
)


def unpack_metadata(packed: Column) -> Column:
    """Inverse of pack_metadata: struct(system, server, filename, offset,
    line, rest). NULL struct fields when the header is absent."""
    ok = packed.rlike(_UNPACK_PAT)
    g = lambda i: F.when(ok, F.regexp_extract(packed, _UNPACK_PAT, i))  # noqa: E731
    return F.struct(
        g(1).alias("system"),
        g(2).alias("server"),
        g(3).alias("filename"),
        g(4).cast("long").alias("offset"),
        g(5).cast("long").alias("line"),
        g(6).alias("rest"),
    )


def grep_contains(df: DataFrame, needle: str) -> DataFrame:
    """Keep rows whose ``text`` contains the substring (plain contains — a
    pushdown-friendly predicate, kept ahead of any regex)."""
    return df.filter(F.col("text").contains(needle))


def translate_charset(text: Column, charset: str) -> Column:
    """Replace every char in `charset` with a space."""
    return F.translate(text, charset, " " * len(charset))


def tokenize(text: Column, separator_charset: str = " ") -> Column:
    """Split into fields by any char in the separator charset; runs of
    separators collapse (no empty fields)."""
    pat = "[" + re.escape(separator_charset) + "]+"
    return F.filter(F.split(text, pat), lambda x: x != F.lit(""))


def fields_strictly(df: DataFrame, min_fields: int) -> DataFrame:
    """Drop rows whose ``text`` has fewer space-separated fields than the
    template demands."""
    return df.filter(F.size(tokenize(F.col("text"), " ")) >= min_fields)


def template_nsub(template: str, key: Column, fields: Column) -> Column:
    """Instantiate a `$N` template: `$0` → key, `$N` → Nth field (1-based),
    missing fields → empty string. Compiled to a concat chain at plan-build
    time — the template is parsed once in Python, rows never re-scan it."""
    parts: list[Column] = []
    pos = 0
    for m in re.finditer(r"\$(\d+)", template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        n = int(m.group(1))
        parts.append(
            key if n == 0 else F.coalesce(F.try_element_at(fields, F.lit(n)), F.lit(""))
        )
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit("")


def date_path(ts: Column) -> Column:
    """``yyyyMMdd`` partition value (HDFS day-dir analogue)."""
    return F.date_format(ts, "yyyyMMdd")


def filename_key_cut(name: Column, n_words: int = 2) -> Column:
    """Strip extension, keep the first `n_words` `_`-separated words."""
    stem = F.regexp_replace(name, r"\.[^.]*$", "")
    words = F.split(stem, "_")
    return F.array_join(F.slice(words, 1, n_words), "_")


_SPARK_CHARSETS = {
    "iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le", "utf-32", "utf-8",
}


def recode(data: Column, from_charset: str, to_charset: str = "UTF-8") -> Column:
    """iconv analogue over a binary column (`src/util.c:449-522`; the
    reference's case is GB18030 → UTF-8). Spark's built-in decode/encode
    whitelists 7 charsets — inside it, stay JVM; outside (GB18030 etc.),
    fall back to an Arrow-batched pandas UDF (cold path by design: the
    engine is UTF-8 end-to-end, recode only happens at ingest edges)."""
    f, t = from_charset.lower(), to_charset.lower()
    if f in _SPARK_CHARSETS and t in _SPARK_CHARSETS:
        return F.encode(F.decode(data, from_charset), to_charset)

    @pandas_udf(T.BinaryType())
    def _recode(b: pd.Series) -> pd.Series:
        return b.map(
            lambda x: None if x is None else bytes(x).decode(from_charset).encode(to_charset)
        )

    return _recode(data)
