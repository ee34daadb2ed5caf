"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure `pyspark.sql.functions` (JVM-side,
codegen) — a 100 TB corpus pass adds no Python cost.

These generalize the reference's only text introspection — newline/field
counting (`logpipe-input-file.c:531-548`, `logpipe-output-es.c:628-661`) —
into the metrics a training-data pipeline routes and filters on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe_spark.operators.dedup import _grams_of, _ngrams, _tokens, _with_tokens
from logpipe_spark.operators.parse import n_fields_col

# tiny per-language marker sets for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "que"],
    "de": ["der", "und", "ist"],
    "fr": ["le", "et", "est"],
    "zh": ["的", "是", "了"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count, separator runs collapsed."""
    return n_fields_col(text).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-ish upper bound: word pieces ≈ words + extra pieces for long
    words (every 4 chars beyond the first 4) + punctuation splits.
    Regex-only, deterministic, no tokenizer dependency."""
    words = F.filter(F.split(text, r"[\s]+"), lambda x: x != F.lit(""))
    pieces = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + 1
        + F.floor((F.length(w) - 1) / 4).cast("long")
        + F.length(F.regexp_replace(w, r"[\w]", "")).cast("long"),
    )
    return pieces


def punct_ratio(text: Column) -> Column:
    non_word = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    return non_word / F.greatest(F.length(text), F.lit(1))


def stopword_hits(text: Column) -> Column:
    """Tokens that are English marker stopwords (``LANG_MARKERS["en"]``)."""
    toks = F.filter(F.split(F.lower(text), " "), lambda x: x != F.lit(""))
    markers = LANG_MARKERS["en"]
    return F.size(F.filter(toks, lambda t: t.isin(markers)))


def quality_score(text: Column) -> Column:
    """Integer 0-100 quality score from length / punct / stopword ratios
    (the usual pre-training heuristics, integer-scaled for engine-exact
    comparison). Higher = keep."""
    length_ok = (F.length(text) >= 40) & (F.length(text) <= 100_000)
    punct_ok = punct_ratio(text) < 0.3
    stop_ok = stopword_hits(text) > 0
    tokens_ok = token_count(text) >= 5
    return (
        length_ok.cast("int") * 40
        + punct_ok.cast("int") * 20
        + stop_ok.cast("int") * 20
        + tokens_ok.cast("int") * 20
    )


def lang_id(text: Column) -> Column:
    """Marker-stopword language ID: the language with the most marker hits;
    'und' when nothing matches. CASE-chain over integer counts — exact."""
    toks = F.filter(F.split(F.lower(text), " "), lambda x: x != F.lit(""))
    counts = {
        lang: F.size(F.filter(toks, lambda t: t.isin(m)))
        for lang, m in LANG_MARKERS.items()
    }
    best = F.greatest(*counts.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # dict order = tie-break priority, deterministic
        expr = expr.when(counts[lang] == best, F.lit(lang))
    return expr


def rolling_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over the text's char-32-gram skeleton —
    cheap shift-resistant hash (winnowing-lite). Deterministic, JVM-only.
    The 16-char head and tail windows are hashed with the length and the
    full-text md5; the tail window start is clamped to 1 explicitly (positive-start
    substring semantics are engine-identical; negative starts are not —
    a 9-15 char text diverges between Spark and DuckDB otherwise)."""
    tail_start = F.greatest(F.length(text) - F.lit(15), F.lit(1))
    return F.md5(
        F.concat_ws(
            "|",
            F.substring(text, 1, 16),
            F.substring(text, tail_start, F.lit(16)),
            F.length(text).cast("string"),
            F.md5(text),
        )
    )


def top_terms(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus top-k vocabulary terms (lowercased whitespace tokens,
    duplicates counted). Plan: explode → partial+final hash agg → TopK
    (TakeOrderedAndProject — never a global sort of the vocabulary).
    Deterministic tie-break by term.

    ``docs``: (``text``)."""
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
        ).alias("term")
    )
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc char/token counts (oracle-checked).

    ``docs``: (``doc_id``, ``text``)."""
    t = F.col("text")
    return docs.select(
        F.length(t).cast("long").alias("len_chars"),
        token_count(t).alias("n_tokens"),
        F.col("doc_id"),
    )


def lang_quality_stats(docs: DataFrame) -> DataFrame:
    """Per-language corpus stats (oracle-checked, exact integer outputs).

    ``docs``: (``text``)."""
    t = F.col("text")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(token_count(t)).alias("total_tokens"),
        F.sum(t.contains("the").cast("int")).alias("docs_with_stopword"),
    )


def repetition_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style within-document repetition signals: per doc, the total
    and distinct word ``n``-gram counts plus the count of the single most
    frequent n-gram — the inputs to the published "fraction of duplicate
    n-grams" / "fraction of characters in the top n-gram" repetition
    filters (boilerplate, chat loops, and keyword-stuffed spam all light
    these up long before perplexity filters see them).

    Scale design: repetition is a PER-ROW property, so this must not
    shuffle — and it doesn't. The mode count comes from a run-length fold
    over the SORTED n-gram array (``array_sort`` + ``aggregate`` with a
    (prev, run, best) struct accumulator), all JVM higher-order
    expressions: zero exchanges, zero Python, embarrassingly parallel at
    any corpus size. The higher-order functions are ``CodegenFallback``,
    so they run interpreted inside the generated stage; the n-grams come
    from ``_ngrams``, which binds each document's tokens once, not once
    per n-gram position. (Contrast top_terms, a corpus-level
    explode+agg: same n-grams, different altitude.)

    Integer outputs only (value-hash safe); callers derive the Gopher
    fractions as ``1 - n_distinct/n_grams`` and ``top_count/n_grams``.
    Docs with fewer than ``n`` tokens report zeros.

    ``docs``: (``doc_id``, ``text``)."""
    grams = _ngrams(F.col("text"), n)
    top = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return docs.select(
        F.col("doc_id"),
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        top.alias("top_count"),
    )


#: unigram_logprob ships the (token, ln_p) vocab as a literal create_map;
#: above this many entries the literal expression tree is the bottleneck
#: (compilation time + task-binary size grow with the map). Same rule as
#: MAX_DSIR_BUCKETS: a vocab beyond this is no longer "unigram LM as a
#: quality score" — use a real tokenizer + distributed join.
MAX_UNIGRAM_VOCAB = 8192


def unigram_logprob(docs: DataFrame, vocab_size: int = 1024) -> DataFrame:
    """Corpus-trained unigram language-model quality score — the cheap,
    shuffle-light stand-in for the KenLM perplexity filter of CCNet /
    RedPajama: train unigram counts on the corpus itself, then score each
    document by its mean token log-probability. Low (very negative) scores
    mark gibberish / rare-token soup; implausibly high scores mark
    degenerate repetition of common tokens. Returns
    (doc_id, n_tokens, n_oov, avg_logprob).

    LM: p(tok) = count(tok)/N over the WHOLE corpus, restricted to the
    ``vocab_size`` most frequent tokens (ties broken lexically); any token
    outside the vocab scores as count 1 (ln 1 − ln N). The score is the
    arithmetic mean of ln p over the doc's tokens, rounded to 4 decimals.

    Engine-exactness: the ln values are computed ONCE in the driver
    (CPython ``math.log`` → libm) and embedded as double literals; the
    per-doc sum is a LEFT FOLD over the token array (``F.aggregate``), so
    addition order is the array order, not partition order — the SQL
    oracle mirrors it with an ordinality-ordered ``list_reduce``. The JVM
    never computes a logarithm, and a parallel double SUM never happens,
    so the two engines agree bit for bit.

    100 TB shape: pass 1 is one map-combinable shuffle keyed by token
    (partial counts collapse map-side) plus a top-``vocab_size`` collect —
    the vocab is a PARAMETER-bounded broadcast, not data-sized. Pass 2
    embeds the (token, ln_p) pairs as ONE literal ``create_map``
    expression — map-only, zero Exchange, whole-stage codegen — so
    ``vocab_size`` is capped at ``MAX_UNIGRAM_VOCAB``. The driver collect
    is ``vocab_size`` rows, the same bounded-collect rule as
    ``mix_sample``'s group counts.

    ``docs``: (``doc_id``, ``text``)."""
    import math

    if vocab_size > MAX_UNIGRAM_VOCAB:
        raise ValueError(
            f"unigram_logprob: vocab_size {vocab_size} exceeds "
            f"MAX_UNIGRAM_VOCAB={MAX_UNIGRAM_VOCAB}; a vocab that large "
            "needs a real tokenizer pipeline, not a quality-score LM"
        )
    toks = _tokens(F.col("text"))
    tok_counts = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = tok_counts.agg(F.sum("c").alias("n")).collect()[0]["n"]
    if not total:
        raise ValueError("unigram_logprob: corpus has no tokens")
    top = (
        tok_counts.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .collect()
    )
    log_n = math.log(total)
    oov_lnp = 0.0 - log_n
    lnp_map = F.create_map(
        *[
            x
            for r in top
            for x in (F.lit(r["tok"]), F.lit(math.log(r["c"]) - log_n))
        ]
    )
    lnp = lambda x: F.coalesce(F.try_element_at(lnp_map, x), F.lit(oov_lnp))
    arr = F.col("_toks")
    n_tok = F.size(arr)
    return (
        docs.select(F.col("doc_id"), toks.alias("_toks"))
        .select(
            "doc_id",
            n_tok.cast("long").alias("n_tokens"),
            F.size(F.filter(arr, lambda x: F.try_element_at(lnp_map, x).isNull()))
            .cast("long")
            .alias("n_oov"),
            F.when(
                n_tok > 0,
                F.round(
                    F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + lnp(x)) / n_tok,
                    4,
                ),
            ).alias("avg_logprob"),
        )
    )


#: dsir_scores ships the per-bucket log-ratios as a literal map; above
#: this many buckets the expression tree gets unwieldy — raise B only
#: with a broadcast-join variant (and give up the ordered-fold exactness).
MAX_DSIR_BUCKETS = 4096


def dsir_scores(docs: DataFrame, target: DataFrame, buckets: int = 1024) -> DataFrame:
    """DSIR-style importance score (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log-likelihood ratio of its hashed n-gram features under a
    TARGET-domain model vs the RAW corpus model — the principled way to
    up-select "looks like my target distribution" data without training
    a classifier. High score = target-like; callers threshold or sample
    ∝ exp(score) downstream.

    Features are word unigrams + bigrams WITH multiplicity, hashed into
    ``buckets`` buckets (md5-derived — engine-portable); each model is
    add-one-smoothed bucket frequencies, p(b) = (c_b + 1) / (N + B).
    Returns (key, n_grams, dsir_score) with score = Σ_grams
    ln(p_target(bucket)/p_raw(bucket)), rounded to 4 decimals.

    Engine-exactness (same contract as :func:`unigram_logprob`): the two
    bucket-count tables collect to the driver (≤ ``buckets`` rows each —
    B is a model-capacity PARAMETER, not data-sized), every logarithm is
    computed once in CPython (libm, == DuckDB's ln), shipped as double
    literals in one map, and the per-doc sum is an ordered LEFT FOLD
    over the gram array — no parallel double sum anywhere.

    100 TB shape: two map-combinable groupBy(bucket) passes (the target
    side is typically tiny anyway), one bounded collect, then a map-only
    scoring pass with zero Exchange — the same two-pass broadcast-model
    shape as ``unigram_logprob``, robust to any corpus size because the
    broadcast is B-bounded.

    ``docs``: (``doc_id``, ``text``); ``target``: (``text``); the bucket
    hash salt is ``"dsir"``."""
    import math

    from logpipe_spark.operators.dedup import base_hash60

    if buckets > MAX_DSIR_BUCKETS:
        raise ValueError(
            f"dsir_scores: buckets={buckets} exceeds MAX_DSIR_BUCKETS="
            f"{MAX_DSIR_BUCKETS} (literal-map path); reduce B"
        )

    def grams(text: Column) -> Column:
        return _with_tokens(text, lambda t: F.concat(t, _grams_of(t, 2)))

    bucket = lambda g: base_hash60(F.concat(F.lit("dsir:"), g)) % buckets

    def bucket_counts(df: DataFrame) -> dict[int, int]:
        rows = (
            df.select(F.explode(grams(F.col("text"))).alias("g"))
            .select(bucket(F.col("g")).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        return {r["b"]: r["c"] for r in rows}

    t_c = bucket_counts(target)
    r_c = bucket_counts(docs)
    lt = math.log(sum(t_c.values()) + buckets)
    lr = math.log(sum(r_c.values()) + buckets)
    seen = sorted(set(t_c) | set(r_c))
    lnr = {
        b: (math.log(t_c.get(b, 0) + 1) - lt)
        - (math.log(r_c.get(b, 0) + 1) - lr)
        for b in seen
    }
    default = (math.log(1) - lt) - (math.log(1) - lr)
    lnr_map = F.create_map(
        *[x for b in seen for x in (F.lit(b), F.lit(lnr[b]))]
    )
    score = lambda gs: F.aggregate(
        gs,
        F.lit(0.0),
        lambda acc, g: acc
        + F.coalesce(F.try_element_at(lnr_map, bucket(g)), F.lit(default)),
    )
    gs = grams(F.col("text"))
    return docs.select(
        F.col("doc_id"),
        F.size(gs).cast("long").alias("n_grams"),
        F.round(score(gs), 4).alias("dsir_score"),
    )


def distribution_shift(p_docs: DataFrame, q_docs: DataFrame) -> DataFrame:
    """Unigram distribution divergence between two corpora — the drift
    monitor a training pipeline runs between corpus versions, between
    train and held-out splits, or between a source and its filtered
    output (did the quality gate skew the token distribution?).

    Returns ONE row ``(n_p, n_q, vocab, kl_pq, kl_qp, js)``: token
    totals, joint vocabulary size, both directed KL divergences and the
    Jensen–Shannon divergence (natural log), each over add-1-smoothed
    unigram distributions on the JOINT vocabulary — so zero-count tokens
    contribute mass and neither KL can be infinite.

    Determinism: p_t = (c_t+1)/(N_p+V) is a double from exact integers —
    identical in any engine; only the final vocab-wide sums are
    reduction-order dependent, so they are ROUNDed to 6 decimals (error
    is ~1e-15 relative; the same rule the dsir/unigram oracles use).

    100 TB shape: both corpora explode to tokens and meet in ONE
    token-keyed hash aggregation (the only fact-sized shuffle); the
    divergence itself is two passes over the vocab-sized count table
    plus a 1-row broadcast of the totals. Nothing is collected.

    ``p_docs`` and ``q_docs``: (``text``)."""
    def _toks(df: DataFrame, flag: int) -> DataFrame:
        return df.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                            r"[^a-z0-9]+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("token"),
            F.lit(flag).alias("is_p"),
        )

    counts = (
        _toks(p_docs, 1)
        .unionAll(_toks(q_docs, 0))
        .groupBy("token")
        .agg(
            F.sum("is_p").alias("cp"),
            F.sum(1 - F.col("is_p")).alias("cq"),
        )
    )
    totals = counts.agg(
        F.sum("cp").alias("n_p"),
        F.sum("cq").alias("n_q"),
        F.count(F.lit(1)).alias("vocab"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    pt = (F.col("cp") + 1).cast("double") / (F.col("n_p") + F.col("vocab"))
    qt = (F.col("cq") + 1).cast("double") / (F.col("n_q") + F.col("vocab"))
    mt = (pt + qt) / 2
    per = j.select(
        "n_p", "n_q", "vocab",
        (pt * F.log(pt / qt)).alias("kl_pq_t"),
        (qt * F.log(qt / pt)).alias("kl_qp_t"),
        (pt * F.log(pt / mt) / 2 + qt * F.log(qt / mt) / 2).alias("js_t"),
    )
    return per.groupBy("n_p", "n_q", "vocab").agg(
        F.round(F.sum("kl_pq_t"), 6).alias("kl_pq"),
        F.round(F.sum("kl_qp_t"), 6).alias("kl_qp"),
        F.round(F.sum("js_t"), 6).alias("js"),
    )


def collocations(docs: DataFrame, top_k: int = 50, min_count: int = 5) -> DataFrame:
    """Corpus collocation mining: adjacent-bigram PMI — which word pairs
    co-occur far more than chance (named entities, terms of art,
    boilerplate phrases). The corpus-analysis companion to
    ``repetition_stats``: repetition finds WITHIN-doc excess, PMI finds
    CORPUS-WIDE lexical glue, a standard pre-tokenizer diagnostic
    (which strings deserve merges) and boilerplate detector.

    PMI(a,b) = ln(c_ab · N / (c_a · c_b)) over adjacent pairs, with N =
    total bigram occurrences; pairs below ``min_count`` are noise and
    dropped BEFORE the expensive join (the classic Church & Hanks '90
    cutoff). Returns top_k by (pmi DESC, bigram ASC) — count ties
    cannot reorder across engines because every PMI input is an exact
    integer and the expression is computed identically.

    100 TB shape: one explode → ONE bigram-keyed hash agg (the only
    fact-sized shuffle; adjacent pairs only — never within-doc
    all-pairs), unigram counts derived from the SAME bigram table
    (sum over left/right slots — no second corpus pass), joined at
    vocab size, top-k via TakeOrderedAndProject.

    ``docs``: (``text``)."""
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                r"[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # unigram occurrence counts IN BIGRAM SLOTS, from the bigram table
    # itself: c_a = Σ c_ab over pairs where the word fills either slot.
    # (Slot counts, not raw token counts — the PMI denominator must live
    # in the same sample space as the numerator.)
    left = big.groupBy(F.col("w1").alias("w")).agg(
        F.sum("c_ab").alias("c_l")
    )
    right = big.groupBy(F.col("w2").alias("w")).agg(
        F.sum("c_ab").alias("c_r")
    )
    tot = big.agg(F.sum("c_ab").alias("n_pairs"))
    scored = (
        big.filter(F.col("c_ab") >= min_count)
        .join(left, big.w1 == left.w)
        .drop("w")
        .join(right, big.w2 == right.w)
        .drop("w")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat("w1", F.lit(" "), "w2").alias("bigram"),
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab").cast("double") * F.col("n_pairs")
                    / (F.col("c_l").cast("double") * F.col("c_r"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "bigram").limit(top_k)
