"""Corpus-management operators for training-data pipelines: deterministic
splits, C4-style quality filtering, and sequence packing.

The reference has no analogue (it forwards bytes); these are the ops a
100 TB pre-training corpus runs between dedup and tokenization. Design
rules shared with the rest of the package: pure JVM expressions wherever
the semantics allow, engine-portable hashing (md5-derived, so the DuckDB
oracle value-checks bit for bit), and the one genuinely sequential op
(next-fit packing) as an Arrow-batched ``applyInPandas`` over independent
shards — the custom-stateful escape hatch, with a recursive-CTE SQL mirror.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logpipe_spark.operators.dedup import (
    _drop_covered,
    _eval_shingles,
    _shingles,
    _tokens,
    base_hash60,
    bow_fingerprint,
)


def split_bucket(key: Column, salt: str = "split") -> Column:
    """Deterministic per-key bucket in [0, 10000): md5-derived so any
    engine reproduces it (never RAND() — resplits must be stable across
    runs, engines, and row order)."""
    return base_hash60(F.concat(F.lit(salt + ":"), key.cast("string"))) % 10000


def hash_split(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Assign every doc a deterministic train/val/test split by hashed key.

    The industry rule for corpus splits: hash the STABLE KEY, not the row —
    adding or removing other docs never moves a doc across splits (a
    random() split re-rolls on every change and leaks val into train).
    Fractions are cumulative thresholds over a 10k-bucket space; the salt
    namespaces independent split schemes over the same corpus."""
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1: {fractions}")
    b = split_bucket(F.col(key_col), salt)
    expr = None
    cum = 0.0
    for name, frac in fractions.items():
        cum += frac
        threshold = int(round(cum * 10000))
        cond = b < F.lit(threshold)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return docs.withColumn("split", expr)


def corpus_filter(
    docs: DataFrame,
    min_chars: int = 100,
    max_chars: int = 1_000_000,
    min_tokens: int = 10,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """C4-style quality gate: keep/drop decision + the FIRST failed rule as
    ``drop_reason`` (NULL when kept) — the reason column is what makes a
    filtering pass debuggable at corpus scale (groupBy drop_reason tells
    you what your thresholds are doing before you burn a full run).

    All rules are single-pass JVM expressions over ``text``; the rule
    order is the documented evaluation order (cheap length checks before
    the regex).

    ``docs``: (``text``)."""
    t = F.col("text")
    toks = _tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    mean_tok = n_chars / F.greatest(n_tokens, F.lit(1))
    alpha_ratio = F.length(F.regexp_replace(t, "[^A-Za-z]", "")) / F.greatest(
        n_chars, F.lit(1)
    )
    reason = (
        F.when(n_chars < min_chars, F.lit("too_short"))
        .when(n_chars > max_chars, F.lit("too_long"))
        .when(n_tokens < min_tokens, F.lit("too_few_tokens"))
        .when(mean_tok < min_mean_token_len, F.lit("tokens_too_short"))
        .when(mean_tok > max_mean_token_len, F.lit("tokens_too_long"))
        .when(alpha_ratio < min_alpha_ratio, F.lit("low_alpha_ratio"))
    )
    return docs.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


_PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("pack_id", T.LongType()),
    ]
)


def sequence_pack(
    docs: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    token_count_col: Column | None = None,
) -> DataFrame:
    """Next-fit sequence packing: assign docs to ``pack_id`` bins so each
    bin's token total stays ≤ ``budget`` (a doc larger than the budget
    gets its own bin) — the pre-training step that fills fixed context
    windows instead of padding each doc to one.

    Genuinely sequential semantics (each doc's bin depends on the running
    fill), so the parallel unit is the SHARD: docs hash into ``n_shards``
    independent streams, each packed in doc-id order by an Arrow-batched
    ``applyInPandas`` kernel (vectorless python loop over one shard's
    counts — thousands of ints, not the corpus). pack_id is globally
    unique as shard * 2^40 + seq. At 100 TB, shards ≈ output training
    files and the per-shard loop is O(docs/shard) integer ops — the
    shuffle to shards is the only data movement. Token counts are the
    whitespace tokenizer's (same as the dedup family), computed JVM-side
    BEFORE the python kernel so the kernel never touches text.

    Docs with zero tokens are dropped (they pack nowhere); the SQL mirror
    is a per-shard recursive CTE with identical next-fit arithmetic.

    ``token_count_col`` swaps the budget currency: pass any JVM count
    expression — e.g. ``bpe_token_count(F.col("text"), DEFAULT_MERGES)``
    from ``functions/bpe.py`` — and bins are filled in exact tokenizer
    tokens instead of whitespace words. The packing kernel is unchanged
    (it only ever sees integer counts).

    ``docs``: (``doc_id``, ``text``)."""
    toks = (
        token_count_col.cast("int")
        if token_count_col is not None
        else F.size(_tokens(F.col("text"))).cast("int")
    )
    keyed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (base_hash60(F.col("doc_id").cast("string")) % n_shards)
        .cast("int")
        .alias("shard"),
        toks.alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        shard = int(pdf["shard"].iloc[0])
        fill = 0
        seq = 0
        out = []
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill > 0 and fill + t > budget:
                seq += 1
                fill = 0
            fill += t
            out.append(shard * (1 << 40) + seq)
        pdf["pack_id"] = out
        return pdf[["doc_id", "shard", "n_tokens", "pack_id"]]

    return keyed.groupBy("shard").applyInPandas(_pack, _PACK_SCHEMA)


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    min_overlap: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs whose text shares
    ``min_overlap``+ distinct ``n``-gram token shingles with ANY doc in the
    held-out evaluation set — the standard pre-training hygiene pass that
    keeps test-set text out of the training corpus (n-gram overlap against
    the benchmark, per GPT-3/PaLM-style dataset reports; 8-13 gram windows
    are the published sweet spot — long enough that chance collisions
    vanish, short enough that light paraphrase still hits).

    Scale design — the asymmetry IS the plan: the benchmark side is tiny
    (millions of shingles) against a 100 TB corpus, so the eval shingle
    set is deduped and BROADCAST; the corpus is never shuffled by shingle.
    One pass: explode shingles (``explode_outer`` so shingle-less docs
    survive with zeros), broadcast-hash mark matches, one ``groupBy(doc_id)``
    with map-side partial aggregation, left-joined back onto the rows. No
    self-join, no shuffle keyed on text.

    Returns the input columns plus ``n_shingles`` (distinct), ``n_overlap``
    (distinct shingles shared with the eval set) and ``contaminated``. Docs
    also present in ``eval_docs`` (matched by ``doc_id``) are excluded —
    they are the benchmark, not candidates. Rows that share a ``doc_id``,
    NULL included, share counts pooled over all of them.

    ``docs`` and ``eval_docs``: (``doc_id``, ``text``, ...)."""
    corpus = docs.join(F.broadcast(eval_docs.select("doc_id")), "doc_id", "left_anti")
    # struct equality is NULL-safe, and a join key equal to the grouping key
    # keeps the join's size estimate at its left side (eqNullSafe's is a product)
    key = F.struct("doc_id")
    ev = _eval_shingles(eval_docs, n).withColumn("_hit", F.lit(1))
    counts = (
        corpus.select(
            key.alias("_key"),
            F.explode_outer(_shingles(F.col("text"), n)).alias("span"),
        )
        .join(F.broadcast(ev), "span", "left")
        .groupBy("_key")
        .agg(F.count("span").alias("n_shingles"), F.count("_hit").alias("n_overlap"))
    )
    # every row finds its counts; the coalesce keeps a caller's filter on them
    # from turning the left join into an inner one
    n_overlap = F.coalesce("n_overlap", F.lit(0))
    return corpus.join(counts, key == F.col("_key"), "left").select(
        *docs.columns,
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        n_overlap.alias("n_overlap"),
        (n_overlap >= min_overlap).alias("contaminated"),
    )


#: Size of the ``base_hash60`` value space — hashes are uniform in
#: [0, 2^60), which is what makes the per-group hash-threshold prefilter
#: below a valid order-statistic bound.
HASH_SPACE = 1 << 60

#: Groups at most this large skip the prefilter and go straight through the
#: exact per-group window — the sort of a sub-64Ki group is cheap, and the
#: extra filter would only add plan noise at fixture scale. The samplers
#: read it (and ``_prefilter_margin``) at call time.
DEFAULT_WINDOW_CAP = 1 << 16


def remove_eval_spans(docs: DataFrame, eval_docs: DataFrame, n: int = 8) -> DataFrame:
    """Span-level decontamination — the surgical half of the hygiene pass
    whose doc-level flag is :func:`decontaminate`: instead of dropping a
    lightly-contaminated document outright, REMOVE every token position
    covered by an ``n``-gram that appears anywhere in the eval set and
    keep the rest (the FineWeb-style rewrite, same surgery as
    ``dedup.remove_dup_spans`` but with the eval set as the span source).

    Returns the input columns plus (clean_text, n_kept); ``clean_text``
    is the tokenizer-normalized reconstruction, same convention as
    ``remove_dup_spans``.

    Scale design — strictly CHEAPER than remove_dup_spans: the span
    source is the tiny eval side, so its distinct shingles
    (``dedup._eval_shingles``, shared with :func:`decontaminate`)
    BROADCAST into the ``dedup._drop_covered`` surgery and the
    corpus-sized span table never shuffles by span at all. The only
    corpus shuffles are (doc, position) distinct-dedup of covered
    positions and the id-keyed reassembly groupBy — both O(token
    positions of CONTAMINATED docs), not of the corpus.

    ``docs``: (``doc_id``, ``text``, ...); ``eval_docs``: (``text``)."""
    ev = F.broadcast(_eval_shingles(eval_docs, n))
    return _drop_covered(docs, n, lambda _spans: ev)


def _prefilter_margin(keep_n: int) -> float:
    """Safety factor on the expected k-th-order-statistic hash cutoff.

    Rows below ``cutoff = (keep_n / n_g) * HASH_SPACE * margin`` are a
    Binomial(n_g, keep_n*margin/n_g) sample; by a Chernoff lower-tail
    bound the probability that fewer than ``keep_n`` survive is
    <= exp(-keep_n * eps^2 / (2 + eps)) — with eps = 16/sqrt(keep_n) that
    is < 1e-22 per group, and a lazy ``assert_true`` guard still catches
    the adversarial remainder (a group whose keys all hash high) rather
    than silently returning a short sample."""
    import math

    return 1.0 + max(0.1, 16.0 / math.sqrt(max(keep_n, 1)))


def _guarded_rank_filter(
    ranked: DataFrame,
    rank_col: str,
    surv_col: str,
    keep_expr: Column,
    want_expr: Column,
    op_name: str,
    group_col: str,
) -> DataFrame:
    """rank <= keep, plus a lazy exactness guard: if the prefilter left a
    group with fewer survivors than it owes (``want_expr``), raise instead
    of silently under-sampling. ``assert_true`` returns NULL on success,
    so the conjunct keeps Catalyst from pruning the check away."""
    guard = F.assert_true(
        F.col(surv_col) >= want_expr,
        F.concat(
            F.lit(f"{op_name}: hash-threshold prefilter shortfall in group "),
            F.col(group_col).cast("string"),
            F.lit(" — raise the margin or window_cap"),
        ),
    )
    return ranked.filter((F.col(rank_col) <= keep_expr) & guard.isNull())


def mix_sample(
    docs: DataFrame,
    targets: dict[str, float],
    group_col: str = "source",
) -> DataFrame:
    """Mixture sampling: subsample the listed groups (domains / sources /
    languages) so their relative sizes match ``targets`` — the
    data-mixing step that turns raw domain counts into a designed
    pre-training mixture. The achievable total T is set by the binding
    group (T = min over g of n_g / target_g, so the scarcest group is
    kept whole and every other group is trimmed to floor(target_g · T));
    unlisted groups are dropped.

    Selection within a group is by deterministic md5-hash order of the
    stable key (same rule as ``hash_split``/``quota_sample``): invariant
    under repartitioning and reproducible across engines.

    Keep-counts are EXACT integer arithmetic, not float: targets are read
    as decimal fractions (``Fraction(str(f))``), reduced to integer parts
    ``p_g`` over a common denominator, and
    ``keep_g = min_j floor(n_j * p_g / p_j)`` — the same closed form
    (floor commutes with min) a BIGINT ``//`` computes in the SQL oracle,
    so the two engines can never disagree by 1 at a quota boundary.

    Plan: one tiny per-group count aggregate collected to the driver
    (domains are few — dozens, not millions), then a per-group
    hash-threshold prefilter (groups larger than ``DEFAULT_WINDOW_CAP``
    keep only hashes below ~keep_g/n_g of the hash space — see
    ``_mix_core``) feeding a hash-partitioned window rank against
    broadcast keep maps.
    Only the ~keep_g-row sliver of a dominant group is ever sorted; a lazy
    guard raises on the (cryptographically unlikely) prefilter shortfall
    instead of under-sampling.

    ``docs``: (``doc_id``, ``group_col``); the hash salt is ``"mix"``."""
    from fractions import Fraction
    from math import lcm

    if not targets:
        raise ValueError("targets must be non-empty")
    for g, f in targets.items():
        if f <= 0:
            raise ValueError(f"target fraction for {g!r} must be > 0, got {f}")
    fracs = {g: Fraction(str(f)) for g, f in targets.items()}
    denom = lcm(*(fr.denominator for fr in fracs.values()))
    parts = {g: int(fr * denom) for g, fr in fracs.items()}
    return _mix_core(
        docs, list(targets), lambda counts: parts, group_col, "mix", "mix_sample",
    )


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.3,
    groups: list[str] | None = None,
    group_col: str = "lang",
) -> DataFrame:
    """Temperature (α) sampling: flatten a skewed group distribution so
    group g's share is ∝ n_g^α — the multilingual rebalancing rule from
    XLM-R / mC4 (α < 1 up-weights low-resource groups relative to their
    raw counts; α = 1 is the natural distribution, α = 0 uniform). Unlike
    :func:`mix_sample` the targets are DERIVED from the observed counts,
    so the caller states one number instead of a hand-built mixture.

    No group can be up-sampled beyond its size, so the binding-group rule
    applies: T = min_g floor(n_g / p_g) with p_g ∝ n_g^α, i.e.
    keep_g = min_j floor(n_j · w_g / w_j). The float weights n^α are made
    engine-exact by fixing them at six decimals via
    ``floor(n^α · 10⁶ + 0.5)`` — both this driver (CPython ``**`` → libm
    ``pow``) and the SQL oracle (``POWER`` → the same libm) compute the
    identical double before the floor, after which everything is BIGINT
    arithmetic with no quota-boundary drift.

    Same 100 TB plan as ``mix_sample``: tiny per-group count collect,
    hash-threshold skew prefilter, windowed rank over only the keep-sized
    sliver of each group. ``groups=None`` rebalances every group present.

    ``docs``: (``doc_id``, ``group_col``); the hash salt is ``"tmix"``."""
    from math import floor

    if not (0.0 <= alpha <= 1.0):
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")

    def parts_fn(counts: dict[str, int]) -> dict[str, int]:
        return {g: max(1, floor(n**alpha * 1e6 + 0.5)) for g, n in counts.items()}

    return _mix_core(
        docs, groups, parts_fn, group_col, "tmix", "temperature_mix"
    )


def _mix_core(
    docs: DataFrame,
    groups: list[str] | None,
    parts_fn,
    group_col: str,
    salt: str,
    op_name: str,
) -> DataFrame:
    """Shared engine for mixture-shaping samplers (`mix_sample`,
    `temperature_mix`): per-group integer keep-counts from ``parts_fn``
    (counts → integer weight parts; floor/min BIGINT arithmetic), then
    deterministic md5-hash-order selection behind the skew prefilter."""
    from pyspark.sql import Window

    member = (
        F.col(group_col).isin(groups) if groups is not None else F.lit(True)
    )
    h = base_hash60(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    stats = {
        r["g"]: (r["n"], r["hmin"])
        for r in docs.filter(member)
        .select(F.col(group_col).alias("g"), h.alias("_h"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.min("_h").alias("hmin"))
        .collect()
    }
    counts = {g: n for g, (n, _) in stats.items()}
    if groups is not None:
        absent = sorted(set(groups) - set(counts))
        if absent:
            raise ValueError(f"target groups absent from corpus: {absent}")
    if not counts:
        raise ValueError(f"{op_name}: no rows in any target group")
    parts = parts_fn(counts)
    keep = {
        g: min((counts[j] * parts[g]) // parts[j] for j in parts)
        for g in parts
    }
    # per-group hash cutoff: only rows at or below it can rank inside the
    # group's keep-count, so the exact row_number window sorts
    # ~keep_g*margin rows per group instead of n_g (a 30-40% single-domain
    # corpus would otherwise sort through ONE task) — quota_sample's
    # prefilter rests on the same bound. Floored at the group's min hash so
    # the shortfall guard always sees >= 1 row per group.
    cutoff = {
        g: (
            HASH_SPACE
            if counts[g] <= max(DEFAULT_WINDOW_CAP, keep[g])
            else max(
                min(
                    HASH_SPACE,
                    int(
                        float(HASH_SPACE)
                        * keep[g]
                        * _prefilter_margin(keep[g])
                        / counts[g]
                    )
                    + 1,
                ),
                stats[g][1],
            )
        )
        for g in parts
    }

    def _bmap(d: dict[str, int]) -> Column:
        return F.create_map(
            *[x for g, v in d.items() for x in (F.lit(g), F.lit(v))]
        )[F.col(group_col)]

    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col("doc_id").asc())
    wg = Window.partitionBy(group_col)
    ranked = (
        docs.filter(member & (h <= _bmap(cutoff)))
        .withColumn("_mrank", F.row_number().over(w))
        .withColumn("_msurv", F.count(F.lit(1)).over(wg))
    )
    return _guarded_rank_filter(
        ranked, "_mrank", "_msurv", _bmap(keep), _bmap(keep),
        op_name, group_col,
    ).select(*docs.columns)


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Split every document into fixed-size token windows — the context-
    window prep step that complements ``sequence_pack`` (packing joins
    short docs; chunking splits long ones). ``stride`` < ``chunk_size``
    yields overlapping windows (the usual trick so no span is ever cut
    mid-context); default stride = chunk_size (disjoint). The tail chunk
    may be shorter; token-less docs emit nothing.

    Per-row generate-and-explode: window starts are a JVM ``sequence``,
    each chunk a ``slice`` + ``concat_ws`` — one generator, no shuffle,
    no Python; at 100 TB this is a map-only stage whose output feeds
    straight into the (sharded) packer or the tokenizer.

    ``docs``: (``doc_id``, ``text``)."""
    if stride is None:
        stride = chunk_size
    if not (1 <= stride <= chunk_size):
        raise ValueError(f"need 1 <= stride <= chunk_size, got {stride}/{chunk_size}")
    toks = _tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    chunks = F.filter(
        F.transform(
            starts,
            lambda s, i: F.struct(
                i.alias("chunk_idx"),
                F.slice(toks, s, chunk_size).alias("toks"),
            ),
        ),
        lambda c: F.size(c["toks"]) > 0,
    )
    ex = docs.select(
        F.col("doc_id"), F.explode(chunks).alias("c")
    )
    return ex.select(
        "doc_id",
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.size("c.toks").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("c.toks")).alias("chunk_text"),
    )


# RE2-safe patterns (no backreferences / lookaround), so Spark's Java regex
# and any RE2-family oracle engine agree token for token. Order matters:
# emails are redacted before IPv4 so a digit-bearing local part can't be
# half-eaten, and phones last (the leading + keeps them off IPv4 octets).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}([- ]?\d{2,4}){2,3}",
}


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII scrubbing: replace emails, IPv4 addresses, and +-prefixed phone
    numbers with typed placeholders (``<EMAIL>``/``<IP>``/``<PHONE>``) and
    count each category — the pre-training hygiene pass every published
    corpus pipeline runs before release.

    Pure per-row ``regexp_replace``/``regexp_count`` chain: JVM-side,
    whole-stage codegen, zero shuffles, embarrassingly parallel at 100 TB.
    Counts are taken BEFORE redaction (on the original text) so the three
    counters are independent of replacement order; the replacement chain
    itself is ordered email → ipv4 → phone, which is part of the
    documented contract (a phone match never sees an already-redacted
    email's digits). Patterns are deliberately RE2-safe so external
    engines reproduce the result bit for bit.

    ``docs``: (``text``)."""
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>"),
            PII_PATTERNS["ipv4"],
            "<IP>",
        ),
        PII_PATTERNS["phone"],
        "<PHONE>",
    )
    return docs.withColumn("n_emails", F.regexp_count(t, F.lit(PII_PATTERNS["email"]))) \
        .withColumn("n_ipv4", F.regexp_count(t, F.lit(PII_PATTERNS["ipv4"]))) \
        .withColumn("n_phones", F.regexp_count(t, F.lit(PII_PATTERNS["phone"]))) \
        .withColumn("text_redacted", redacted)


#: C0 controls EXCEPT tab/newline/CR (which are whitespace, normalized in
#: the second step — deleting them outright would weld adjacent words),
#: plus DEL. Explicit ranges, identical under Java regex and RE2.
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
#: explicit HORIZONTAL whitespace class — NOT \s, whose membership differs
#: between Java regex (includes \x0b) and RE2; \x0b/\f are already gone by
#: the time this runs. Newlines are deliberately NOT in this class: line
#: structure must survive normalization so line-level dedup
#: (operators/dedup.py:dedup_lines, the C4/RefinedWeb boilerplate stage)
#: still sees lines downstream of clean_text.
_HWS_RE = r"[ \t]+"


def clean_text(docs: DataFrame) -> DataFrame:
    """Unicode + whitespace text normalization — the first transform of
    every published cleaning recipe (C4, CCNet, Dolma all NFC- or
    NFKC-normalize before tokenizing, else ``é`` composed and ``e``+U+0301
    decomposed count as different types everywhere downstream):

    1. NFC Unicode normalization (canonical composition);
    2. non-whitespace C0 control characters and DEL deleted;
    3. line endings normalized (``\r\n`` and lone ``\r`` → ``\n``);
    4. HORIZONTAL whitespace runs (space/tab) collapsed to one space;
    5. spaces hugging a newline stripped (`` \n `` → ``\n``);
    6. leading/trailing whitespace (spaces + newlines) trimmed.

    Newlines survive (steps 3-5 normalize around them, never across):
    line-level dedup (:func:`logpipe_spark.operators.dedup.dedup_lines`,
    the C4/RefinedWeb boilerplate-line stage) runs AFTER normalization
    in every composed recipe (plans/corpus_funnel.py), and a collapse
    that welded documents to one line would silently disable it.

    Steps 2-6 are JVM ``regexp_replace`` codegen. Step 1 is ICU4J's
    ``Normalizer.compose`` called through ``reflect`` — ICU4J ships in
    Spark's own jars (it backs collations), so normalization runs in the
    JVM task with no Python worker. ``compose(null)`` throws, hence the
    NULL guard: a NULL ``text`` stays NULL. Map-only, zero shuffles,
    embarrassingly parallel at 100 TB. The DuckDB oracle mirrors step 1
    with ``nfc_normalize`` (utf8proc) — NFC is a Unicode-stable
    algorithm, so the two implementations agree byte-for-byte on every
    code point both Unicode versions assign.

    ``docs``: (``text``); adds ``text_clean``."""
    text = F.col("text")
    nfc = F.when(
        text.isNotNull(),
        F.reflect(
            F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), text,
            F.lit(False),
        ),
    )
    t = F.regexp_replace(nfc, _CTRL_RE, "")
    t = F.regexp_replace(t, r"\r\n?", "\n")
    t = F.regexp_replace(t, _HWS_RE, " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    cleaned = F.regexp_replace(t, r"^[ \n]+|[ \n]+$", "")
    return docs.withColumn("text_clean", cleaned)


def _quota_prefiltered(
    docs: DataFrame,
    group_col: str,
    quota: int,
) -> tuple[DataFrame, Column]:
    """The pre-window half of ``quota_sample``, factored out so tests can
    measure the sliver directly. Returns (prefiltered df carrying
    ``_n_g``/``_cutoff``, the hash column). Group sizes stay distributed:
    a broadcast-joined count aggregate (map-side partials, group keys
    only), NOT a driver collect — per-domain grouping can mean millions of
    groups."""
    h = base_hash60(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    counts = (
        docs.select(F.col(group_col).alias("_g"), h.alias("_h"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n_g"), F.min("_h").alias("_hmin"))
    )
    m = _prefilter_margin(quota)
    # floor the cutoff at the group's min hash: every group keeps >= 1 row,
    # so the shortfall guard downstream always has a row to evaluate on —
    # a fully starved group would otherwise vanish silently, guard unseen
    cutoff = F.when(
        F.col("_n_g") <= F.greatest(F.lit(DEFAULT_WINDOW_CAP), F.lit(quota)),
        F.lit(HASH_SPACE),
    ).otherwise(
        F.greatest(
            F.least(
                F.lit(HASH_SPACE),
                (F.ceil(F.lit(float(HASH_SPACE) * quota * m) / F.col("_n_g")) + 1)
                .cast("long"),
            ),
            F.col("_hmin"),
        )
    )
    # null-safe key so a NULL group behaves exactly like the plain window
    # (an inner equi-join on the column name would silently drop it)
    joined = docs.join(
        F.broadcast(counts.withColumn("_cutoff", cutoff)),
        F.col(group_col).eqNullSafe(F.col("_g")),
    ).drop("_g")
    return joined.filter(h <= F.col("_cutoff")), h


def quota_sample(
    docs: DataFrame,
    group_col: str = "lang",
    quota: int = 100,
) -> DataFrame:
    """Cap every group at ``quota`` docs — the over-representation fix
    (per-language / per-domain / per-source caps) a corpus runs after
    filtering and before packing.

    Selection is by deterministic HASH order of the stable key, not
    first-seen order: the chosen subset is invariant under repartitioning,
    engine changes, and corpus growth outside the group (a doc only drops
    out when enough new docs hash BELOW it inside its own group — the same
    stability rule as ``hash_split``; the fixed salt ``"quota"`` namespaces
    sampling passes). Ties on the hash break by key, so the result is a
    total function of the group's key set.

    Plan: per-group hash-threshold prefilter, then one hash-partitioned
    window per group (no global exchange, no SinglePartition —
    auto-screened by test_plan_quality). Groups up to
    ``DEFAULT_WINDOW_CAP`` rows sort whole inside their window task; a
    larger (skewed) group is first cut to the ~quota*margin rows whose
    hash falls below ``quota/n_g * 2^60 * margin`` — the only rows that
    can possibly rank inside the quota — so a domain holding 30-40% of a 100 TB corpus sorts
    ~quota rows in its window task, not n_g. The prefilter changes NOTHING
    about which rows are selected (same hash, same order, and a lazy
    ``assert_true`` guard raises on the astronomically-unlikely shortfall
    instead of under-sampling), so results are bit-identical to the plain
    window.

    ``docs``: (``doc_id``, ``group_col``)."""
    from pyspark.sql import Window

    pre, h = _quota_prefiltered(docs, group_col, quota)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col("doc_id").asc())
    wg = Window.partitionBy(group_col)
    ranked = (
        pre.withColumn("_qrank", F.row_number().over(w))
        .withColumn("_qsurv", F.count(F.lit(1)).over(wg))
    )
    return _guarded_rank_filter(
        ranked, "_qrank", "_qsurv", F.lit(quota),
        F.least(F.lit(quota).cast("long"), F.col("_n_g")),
        "quota_sample", group_col,
    ).select(*docs.columns)


def shuffle_corpus(
    docs: DataFrame,
    num_shards: int,
    seed: str = "shuffle",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle order for pre-training data delivery.

    Training consumes the corpus in an order that must be (a) unbiased with
    respect to crawl/source order, (b) bit-reproducible run to run and
    engine to engine, and (c) producible without any single-machine sort.
    Hash the STABLE key under a seed salt (``base_hash60`` — md5-derived,
    so any engine reproduces it; never RAND()), then

      ``sort_key = h``                       (position in the shuffled order)
      ``shard    = h div ceil(2^60 / num_shards)``   (contiguous hash range)

    Reading shards in index order, each sorted by ``sort_key``, IS the full
    shuffled corpus — so the writer is ``repartitionByRange("shard")`` +
    ``sortWithinPartitions("sort_key")``: a range-partitioned distributed
    sort with no global single-task ``orderBy``. Changing ``seed``
    re-shuffles; under corpus growth with the same seed, new docs splice in
    while the relative order of existing docs is preserved (each doc's key
    hash never moves), which keeps resumable data-loader bookkeeping sane.
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    step = -(-HASH_SPACE // num_shards)  # ceil; max hash lands in shard n-1
    h = base_hash60(F.concat(F.lit(seed + ":"), F.col(key_col).cast("string")))
    return docs.withColumn("sort_key", h).withColumn(
        "shard", F.expr(f"sort_key div {step}").cast("int")
    )


#: quantile_buckets collects the distinct-score histogram driver-side;
#: above this many distinct values the caller must quantize the score
#: first (the histogram, not the corpus, is the driver's memory bound).
MAX_SCORE_HISTOGRAM = 1_000_000


def quantile_buckets(
    docs: DataFrame,
    score_col: str = "n_chars",
    k: int = 10,
) -> DataFrame:
    """Assign every document to one of ``k`` quality buckets by exact
    VALUE quantiles of an integer score — the CCNet/RedPajama recipe of
    splitting a corpus into perplexity (head/middle/tail) tranches for
    curriculum or mixture decisions, generalized to any integral score
    (chars, tokens, a scaled classifier output).

    Bucket boundaries are value-based: b_i = the smallest score whose
    cumulative count reaches ceil(n·i/k) (i = 1..k-1), and a doc's
    bucket is the number of boundaries strictly below its score. Docs
    with EQUAL scores therefore always share a bucket (sizes are ~n/k
    up to ties) and the whole assignment is pure integer arithmetic —
    no percentile interpolation, no float drift, engine-exact.

    Returns (key, score, bucket) with bucket in [0, k-1]; null scores
    yield a null bucket (flag upstream, don't guess).

    100 TB shape: ONE groupBy(score) shuffle builds the distinct-score
    histogram; the cumulative walk runs driver-side over that histogram
    (bounded by the score DOMAIN — ``MAX_SCORE_HISTOGRAM`` guard, e.g.
    doc lengths, not doc counts); assignment is a map-side CASE chain
    over k-1 literal boundaries. No global sort, no window, no rank —
    the exact-quantile cost is the histogram, which is what makes this
    survive a corpus 1000× larger with the same score domain.

    ``docs``: (``doc_id``, ``score_col``)."""
    if k < 2:
        raise ValueError(f"quantile_buckets: k must be >= 2, got {k}")
    s = F.col(score_col).cast("long")
    hist = (
        docs.filter(s.isNotNull())
        .groupBy(s.alias("_s"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    rows = hist.collect()
    if len(rows) > MAX_SCORE_HISTOGRAM:
        raise ValueError(
            f"quantile_buckets: {len(rows)} distinct scores exceeds "
            f"MAX_SCORE_HISTOGRAM={MAX_SCORE_HISTOGRAM}; quantize "
            f"{score_col} first"
        )
    rows.sort(key=lambda r: r["_s"])
    n = sum(r["_c"] for r in rows)
    boundaries: list[int] = []
    if n:
        cum, j = 0, 0
        for i in range(1, k):
            target = -(-n * i // k)  # ceil(n*i/k), pure ints
            while cum < target:
                cum += rows[j]["_c"]
                j += 1
            boundaries.append(rows[j - 1]["_s"])
    bucket = F.lit(0).cast("int")
    for b in boundaries:
        bucket = bucket + (s > F.lit(b)).cast("int")
    return docs.select(
        F.col("doc_id"),
        s.alias("score"),
        F.when(s.isNotNull(), bucket).alias("bucket"),
    )


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two corpus versions — the audit step of an
    iterating data pipeline ("what did this cleaning pass actually
    change?"): per document key, classify the transition as 'added'
    (key only in new), 'removed' (key only in old), 'changed' (both,
    content fingerprint differs), or 'unchanged'.

    Content identity is :func:`~logpipe_spark.operators.dedup.
    bow_fingerprint` (shared with fingerprint_dedup / incremental_dedup,
    so diff output joins against their artifacts). Returns
    (key, status, old_fingerprint, new_fingerprint) — one row per key in
    either version; the absent side's fingerprint is NULL.

    100 TB shape: ONE key-shuffled full-outer join of two key+16-byte-
    fingerprint projections (text never crosses the wire after the
    map-side hash); status is a map-side CASE. Counts by status —
    ``.groupBy("status").count()`` — are the cheap audit summary.

    ``old`` and ``new``: (``doc_id``, ``text``)."""
    of = old.select(
        F.col("doc_id").alias("_k"),
        bow_fingerprint(F.col("text")).alias("old_fingerprint"),
    )
    nf = new.select(
        F.col("doc_id").alias("_k"),
        bow_fingerprint(F.col("text")).alias("new_fingerprint"),
    )
    j = of.join(nf, "_k", "full_outer")
    return j.select(
        F.col("_k").alias("doc_id"),
        F.when(F.col("old_fingerprint").isNull(), F.lit("added"))
        .when(F.col("new_fingerprint").isNull(), F.lit("removed"))
        .when(
            F.col("old_fingerprint") != F.col("new_fingerprint"), F.lit("changed")
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        "old_fingerprint",
        "new_fingerprint",
    )


def split_leak_check(docs: DataFrame) -> DataFrame:
    """Cross-split content-leakage audit — the check every train/val/test
    split needs and almost nobody runs: :func:`hash_split` assigns by
    KEY (correctly — stable under corpus edits), but duplicate CONTENT
    under different keys can land in different splits, leaking training
    text into evaluation. Returns one row per leaking fingerprint:
    (fingerprint, n_splits, n_docs, splits) with ``splits`` the sorted
    comma-joined split names; empty result = no leakage.

    Content identity is the shared ``bow_fingerprint``, so the fix-up
    joins directly against ``incremental_dedup`` / ``corpus_diff``
    artifacts (e.g. drop the eval-side copies, keep train's).

    100 TB shape: ONE map-combinable groupBy(fingerprint) over
    (fingerprint, split) — 16 + ~5 bytes per row on the wire; output is
    leaking fingerprints only (≈ duplicate groups × leak rate, tiny).

    ``docs``: (``split``, ``text``)."""
    base = docs.select(
        bow_fingerprint(F.col("text")).alias("fingerprint"),
        F.col("split").alias("_s"),
    )
    return (
        base.groupBy("fingerprint")
        .agg(
            F.countDistinct("_s").alias("n_splits"),
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("_s")), ",").alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


def cluster_split(
    docs: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split unit is the
    NEAR-DUP CLUSTER, not the document. ``hash_split`` alone guarantees a
    stable per-key split, but near-duplicate content under different keys
    still straddles splits (exactly what split_leak_check detects after
    the fact); here the connected components of the ``pairs`` graph are
    labeled first and the split hash is taken over the component id, so
    every member of a cluster — and therefore every near-duplicate — lands
    in the SAME split by construction. Singleton docs use their own key
    (component = min id of the cluster, so an unpaired doc's group is
    itself, keeping assignments stable as pairs appear elsewhere).

    Returns docs + (split_group, split). 100 TB shape: the component
    labels come from the large-star/small-star alternation (id-only
    shuffles, O(log^2 n) rounds), or from the driver's union-find when
    the pair graph has at most ``dedup._DRIVER_CC_EDGES`` edges (a local
    relation, broadcast into the join); the docs⋈labels join is keyed on
    the doc id, and the split itself is a map-side md5 expression — no new
    shuffle class beyond what dedup already pays.

    ``docs``: (``doc_id``, ...); ``pairs``: (``doc_a``, ``doc_b``); the
    split hash salt is ``"split"``."""
    from logpipe_spark.operators.dedup import connected_components_star

    comp = connected_components_star(pairs)
    # split_group is a STRING: coalescing the component with the raw key
    # must work for any key type (string doc ids would fail a cast to
    # long under ANSI, or silently null it without), and the split hash
    # downstream stringifies its key anyway — so for numeric keys the
    # assignment is bit-identical to hashing the long form.
    labeled = (
        docs.alias("d")
        .join(comp, F.col("d.doc_id") == comp.node, "left")
        .select(
            "d.*",
            F.coalesce(
                F.col("component").cast("string"),
                F.col("d.doc_id").cast("string"),
            ).alias("split_group"),
        )
    )
    return hash_split(
        labeled, fractions, key_col="split_group"
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    k: int,
    salt: str = "ws",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``k`` rows, inclusion
    probability proportional to ``weight_col`` — the length- or
    quality-proportional subsample every corpus-curation recipe needs
    (Efraimidis & Spirakis '06 exponential-keys scheme, the
    distributed-friendly formulation: key = -ln(u)/w, keep the k
    SMALLEST keys; one pass, no sequential reservoir).

    Determinism across engines and runs: u is md5-derived from the
    stable key under ``salt`` — u = (CAST(h AS DOUBLE) + 0.5) / 2^60
    with h the 60-bit md5 hash, the identical expression in the SQL
    oracle — so the sample is a pure function of (key, salt, weights),
    invariant under repartitioning, and reproducible by any engine.

    100 TB shape: orderBy(sample_key).limit(k) compiles to
    TakeOrderedAndProject — a bounded per-partition heap of k rows
    merged once, never a global sort, never a window. Non-positive or
    NULL weights are excluded (P ∝ w requires w > 0).

    ``docs``: (``doc_id``, ``weight_col``)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from logpipe_spark.operators.dedup import base_hash60

    h = base_hash60(
        F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))
    )
    u = (h.cast("double") + 0.5) / float(1 << 60)
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        docs.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .select("*", key.alias("sample_key"))
        .orderBy("sample_key")
        .limit(k)
    )
