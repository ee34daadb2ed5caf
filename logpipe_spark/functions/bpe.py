"""Merge-table BPE tokenization — tokenizer-faithful token counting.

The reference's only notion of "tokens" is separator-run field splitting
(`logpipe-output-es.c:628-661`); a training-data pipeline budgets context
windows in TOKENIZER tokens, so this module adds a real byte-pair-encoding
path next to the whitespace/regex heuristics in ``operators/textstats.py``.

Design for 100 TB — the encoder is NOT a Python UDF. A learned merge
table is applied as a chain of literal string replaces over a delimited
symbol representation, entirely in ``pyspark.sql.functions`` (whole-stage
codegen, zero Python in the hot path), and the identical ``replace()``
chain runs in DuckDB for the value oracle.

Exactness argument (why a replace chain IS greedy BPE): a word is encoded
as its symbols each carrying ONE TRAILING delimiter ``\\x01`` ("ab" ->
"a\\x01b\\x01"). Merge (x, y) -> xy is the literal replace
"x\\x01y\\x01" -> "xy\\x01". Because every occurrence of the pattern owns
its delimiter bytes outright (no two occurrences share a character),
SQL/Spark's left-to-right non-overlapping replace-all merges exactly the
pairs greedy left-to-right BPE merges — including runs of identical
symbols ("aaaa" -> "aa","aa"; "aaa" -> "aa","a") — and ONE pass per merge
is exhaustive: merging x,y into xy can never create a new adjacent (x, y)
pair. Applying merges in rank order is exact for well-formed learned
tables (a merge's operands are produced only by strictly earlier merges,
so later merges cannot enable earlier ones). Training mirrors Sennrich et
al. 2016 (ACL, "Neural Machine Translation of Rare Words with Subword
Units") over a driver-resident word-frequency dict; word counting itself
is distributed.

Word boundary convention: whitespace runs separate words (marker
``\\x02``); merges never span it. No end-of-word marker symbol (plain
word-internal BPE).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SYM = "\x01"   # trailing-delimiter after every symbol
WORD = "\x02"  # word separator; never part of a merge


def train_bpe_merges(
    word_counts: dict[str, int], num_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE training over a word-frequency dict (driver-side —
    vocabularies fit in memory even for 100 TB corpora; the heavy part,
    word counting, is distributed in ``corpus_word_counts``).

    Deterministic: best pair = max by (count, then LEXICOGRAPHICALLY
    SMALLEST pair on ties). Stops early when no pair repeats."""
    words: dict[tuple[str, ...], int] = {
        tuple(w): c for w, c in word_counts.items() if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (x, y), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((x, y))
        xy = x + y
        new_words: dict[tuple[str, ...], int] = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(xy)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_words[t] = new_words.get(t, 0) + c
        words = new_words
    return merges


def corpus_word_counts(docs: DataFrame, top_k: int = 10_000) -> dict[str, int]:
    """Distributed word-frequency count, top_k collected to the driver for
    training (partial+final hash agg then TopK — the only full-corpus pass
    training needs). Ties broken by word so the training corpus is stable
    under repartitioning.

    ``docs``: (``text``)."""
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("w")
    )
    rows = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(top_k)
        .collect()
    )
    return {r["w"]: r["n"] for r in rows}


def encode_bpe_col(text: Column, merges: list[tuple[str, str]]) -> Column:
    """Delimited BPE symbol string for ``text`` — every token carries one
    trailing ``\\x01``, words separated by ``\\x02``. Pure literal-replace
    chain: Catalyst folds it into one codegen'd projection."""
    # sanitize (delimiter bytes in input would forge token boundaries),
    # collapse whitespace runs to the word marker, then delimit every char
    s = F.regexp_replace(text, f"[{SYM}{WORD}]", "")
    s = F.regexp_replace(s, r"\s+", WORD)
    s = F.regexp_replace(s, f"([^{WORD}])", "$1" + SYM)
    for x, y in merges:
        s = F.replace(s, F.lit(x + SYM + y + SYM), F.lit(x + y + SYM))
    return s


def bpe_token_count(text: Column, merges: list[tuple[str, str]]) -> Column:
    """Exact merge-table token count: number of ``\\x01`` delimiters in the
    encoded form (each token owns exactly one)."""
    enc = encode_bpe_col(text, merges)
    return (F.length(enc) - F.length(F.replace(enc, F.lit(SYM)))).cast("long")


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def bpe_token_count_sql(text_sql: str, merges: list[tuple[str, str]]) -> str:
    """The DuckDB mirror of ``bpe_token_count`` — the same sanitize /
    word-mark / delimit / replace-chain, built as nested ``replace()``
    calls so the oracle applies the SAME merge table with the SAME
    left-to-right replace-all semantics."""
    s = f"regexp_replace({text_sql}, '[\\x01\\x02]', '', 'g')"
    s = f"regexp_replace({s}, '\\s+', chr(2), 'g')"
    s = f"regexp_replace({s}, '([^\\x02])', '\\1' || chr(1), 'g')"
    for x, y in merges:
        s = (
            f"replace({s}, {_sql_quote(x + SYM + y + SYM)}, "
            f"{_sql_quote(x + y + SYM)})"
        )
    return (
        f"CAST(length({s}) - length(replace({s}, chr(1), '')) AS BIGINT)"
    )
