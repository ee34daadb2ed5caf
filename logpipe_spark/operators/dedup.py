"""Deduplication operators for training-data pipelines.

The reference deduplicates nothing (its contract is byte-faithful
forwarding), but a 100 TB transcript/document corpus needs dedup as a
first-class routing stage: these operators slot in between parse and route
(drop or down-weight duplicate turns/documents before fan-out).

Scale design:

- exact / fingerprint: hash-groupBy — one shuffle on a 16-byte key, partial
  aggregation map-side; at 10^12 rows this is the cheapest possible dedup.
- n-gram Jaccard: inverted-index self-join on shingles (NOT an O(n²) cross
  join) — explode to (shingle, doc), self-join per shingle, count
  intersections, compute Jaccard from |A|, |B|, |A∩B|. Shingle-frequency
  cap drops stop-shingles that would quadratically blow up a hot key.
- MinHash + LSH: per-doc signature sig[i] = min over shingles of the
  universal hash (a_i·h + b_i) mod p, where h is a 60-bit base hash of the
  shingle (md5 hex prefix — bit-identical in Spark and DuckDB, so the
  signatures are value-checkable by the SQL oracle) and p = 2^31-1. One
  base hash per shingle, k cheap integer mixes; banded into b buckets;
  candidate pairs only where a band collides. Classic MMDS construction;
  all built-in exprs, no UDF.
- SimHash: 64-bit majority-vote sketch via an Arrow-batched pandas UDF
  (bit-twiddling is the one thing DataFrame exprs express poorly) —
  the documented "custom sketch" escape hatch.

Everything is deterministic (seeded hash functions, no RNG at runtime).
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _tokens(text: Column) -> Column:
    """Non-empty lowercase whitespace tokens (separator runs collapse,
    matching the reference tokenizer `logpipe-output-es.c:642-661`)."""
    return F.filter(F.split(F.lower(text), " "), lambda x: x != F.lit(""))


def _with_tokens(text: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(t)`` with ``t`` bound ONCE to ``_tokens(text)``. A lambda that
    names ``_tokens(text)`` directly captures the whole split/filter
    expression, and Spark re-evaluates it at every call — once per n-gram
    position, O(tokens²) per document. A one-element outer ``transform``
    evaluates it once and hands the array in as a lambda variable."""
    return F.transform(F.array(_tokens(text)), fn)[0]


def _grams_of(t: Column, n: int) -> Column:
    """Positional ``n``-grams of the token array ``t``, space-joined.
    Guarded for short docs: Spark's sequence(1, 0) DESCENDS ([1, 0]), so an
    unguarded index range would fabricate n-grams for docs with < n tokens;
    NULL ``t`` (NULL text) takes the same empty-array branch."""
    idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
    return F.when(
        F.size(t) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def _ngrams(text: Column, n: int) -> Column:
    """Positional token ``n``-grams WITH multiplicity, one per position;
    the document is tokenized once per row (``_with_tokens``)."""
    return _with_tokens(text, lambda t: _grams_of(t, n))


def _shingles(text: Column, n: int) -> Column:
    """Distinct n-gram token shingles as strings. The higher-order
    functions are ``CodegenFallback`` expressions: they run interpreted
    inside the generated stage, which is why the split must not repeat."""
    return F.array_distinct(_ngrams(text, n))


# ---------------------------------------------------------------------------
# exact + fingerprint
# ---------------------------------------------------------------------------

def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level exact-duplicate stats via md5 hash-groupBy.

    ``docs``: (``text``)."""
    h = F.md5(F.col("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(h)).cast("long").alias("n_dup_rows"),
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep one row per exact text (lowest key wins — deterministic).

    ``docs``: (``doc_id``, ``text``)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col("text")))
    return (
        docs.withColumn("_keep", F.min("doc_id").over(w) == F.col("doc_id"))
        .filter(F.col("_keep"))
        .drop("_keep")
    )


def bow_fingerprint(text: Column) -> Column:
    """Bag-of-words content fingerprint: md5 of the sorted distinct token
    set — the ONE fingerprint definition shared by fingerprint_dedup,
    incremental_dedup/fingerprint_index, and corpus_diff, so their
    outputs are mutually joinable."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(_tokens(text))), " "))


def fingerprint_dedup(docs: DataFrame) -> DataFrame:
    """Near-dup groups under a bag-of-words fingerprint: md5 of the sorted
    distinct token set. Catches reorderings/duplicated-word edits that
    exact dedup misses, still one hash-groupBy shuffle.

    ``docs``: (``doc_id``, ``text``)."""
    fp = bow_fingerprint(F.col("text"))
    return (
        docs.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard / containment via one shingle inverted index
# ---------------------------------------------------------------------------

def _pair_overlaps(
    docs: DataFrame, n: int, text_col: str, key_col: str, max_shingle_freq: int
) -> DataFrame:
    """(doc_a, doc_b, n_common, sz_a, sz_b) for every doc pair (doc_a <
    doc_b) sharing a distinct ``n``-gram shingle: the capped inverted-index
    self-join that ``ngram_jaccard_pairs`` and ``containment_pairs`` score.

    Plan shape: explode → broadcast anti-join of the hot shingles
    (document frequency > ``max_shingle_freq``) → self-join on shingle →
    count pairwise intersections → join per-doc sizes. The only quadratic
    term is per-shingle, bounded by the cap; at 100 TB the index never
    materializes all-pairs."""
    sh = docs.select(
        F.col(key_col).alias("doc"),
        F.explode(_shingles(F.col(text_col), n)).alias("shingle"),
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh = sh.join(
        F.broadcast(freq.filter(F.col("df") > max_shingle_freq)),
        "shingle",
        "left_anti",
    )
    # sizes AFTER the cap: scores over the same universe intersections are
    # counted in (sizes-before-cap would bias similarity downward whenever
    # a stop-shingle is dropped)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a").join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter.join(
        sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a"
    ).join(sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """All pairs with token-n-gram Jaccard ≥ threshold, scored from
    ``_pair_overlaps``: |A∩B| / (|A| + |B| - |A∩B|)."""
    jaccard = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        _pair_overlaps(docs, n, text_col, key_col, max_shingle_freq)
        .select("doc_a", "doc_b", "n_common", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_keep_list(docs: DataFrame, n: int = 3, threshold: float = 0.8) -> DataFrame:
    """End-to-end near-dup *decision* pass: (dup_doc, keeper) rows — every
    doc with a lower-keyed near-duplicate partner (token-n-gram Jaccard ≥
    threshold) is dropped in favor of its lowest-keyed partner.

    This is the industry-standard "keep first" star rule applied per
    candidate pair (not transitive closure — connected components would
    need an iterative join; for dedup the star rule over-keeps slightly,
    never over-drops). Plan: the inverted-index pair join of
    ``ngram_jaccard_pairs`` + one groupBy — no new shuffle shapes.

    ``docs``: (``doc_id``, ``text``)."""
    pairs = ngram_jaccard_pairs(
        docs, n=n, threshold=threshold, text_col="text", key_col="doc_id",
        max_shingle_freq=1000,
    )
    return pairs.groupBy(F.col("doc_b").alias("dup_doc")).agg(
        F.min("doc_a").alias("keeper")
    )


def containment_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.9) -> DataFrame:
    """Asymmetric near-dup detection: (contained, container) pairs where
    the shingle-set containment C(A, B) = |A ∩ B| / |A| ≥ threshold.

    Jaccard misses the "quoted in full" case every web corpus has: a
    50-shingle page embedded verbatim inside a 5000-shingle page scores
    Jaccard ≈ 0.01 but containment 1.0 (Broder's resemblance-vs-
    containment distinction; CCNet/RefinedWeb drop such contained pages).
    The container per pair is the doc with the LARGER shingle set (ties:
    smaller key), so each emitted row reads "doc_a is (nearly) inside
    doc_b"; containment is computed against the smaller set.

    Same plan as ``ngram_jaccard_pairs`` (both score ``_pair_overlaps``),
    so the same cost envelope: no new shuffle shapes.

    ``docs``: (``doc_id``, ``text``)."""
    # orient: container = larger shingle set (ties: smaller key — doc_a <
    # doc_b always here, so the tie rule keeps doc_a as container)
    small_is_a = F.col("sz_a") < F.col("sz_b")
    return (
        _pair_overlaps(docs, n, "text", "doc_id", 1000)
        .select(
            F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_a"),
            F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_b"),
            F.col("n_common"),
            (
                F.col("n_common")
                / F.when(small_is_a, F.col("sz_a")).otherwise(F.col("sz_b"))
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_PRIME = 2147483647  # 2^31 - 1: a_i·h + b_i stays < 2^62, no overflow


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) universal-hash coefficients, derived from
    md5 of a fixed tag — reproducible anywhere (the SQL oracle embeds the
    same constants). a_i ∈ [1, p-1], b_i ∈ [0, p-1]."""
    p = MINHASH_PRIME

    def _c(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:15], 16)

    a = [(_c(f"minhash-a-{i}") % (p - 1)) + 1 for i in range(num_hashes)]
    b = [_c(f"minhash-b-{i}") % p for i in range(num_hashes)]
    return a, b


def base_hash60(s: Column) -> Column:
    """60-bit integer base hash of a string: first 15 hex chars of md5.
    Chosen over xxhash64 because it is engine-portable bit for bit
    (DuckDB: CAST('0x' || substr(md5(s),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of
    (a_i·h(shingle) + b_i) mod p. One fold over the shingle array computing
    all k mins at once (aggregate + zip_with) — a single expression per
    row, no explode, no shuffle, one md5 per shingle (the k mixes are
    integer multiply-adds). Docs with < n tokens get the identity
    signature [p, p, ...] (p is above every hash value)."""
    p = F.lit(MINHASH_PRIME).cast("long")
    a, b = minhash_coeffs(num_hashes)
    a_lit = F.array(*[F.lit(x).cast("long") for x in a])
    b_lit = F.array(*[F.lit(x).cast("long") for x in b])
    idx = F.sequence(F.lit(1), F.lit(num_hashes))
    # md5 once per shingle in the OUTER transform — Spark does not hoist
    # loop-invariant expressions out of HOF lambdas, so putting
    # base_hash60(s) inside the per-i lambda would evaluate the crypto
    # hash num_hashes times per shingle; the fold then mixes integers only
    base_hashes = F.transform(
        _shingles(F.col(text_col), n), lambda s: base_hash60(s) % p
    )
    sig = F.aggregate(
        base_hashes,
        F.array_repeat(p, num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                idx,
                lambda i: (F.element_at(a_lit, i) * h + F.element_at(b_lit, i)) % p,
            ),
            lambda cur, m: F.least(cur, m),
        ),
    )
    return docs.select(F.col(key_col), sig.alias("signature"))


def minhash_digest(sig: Column) -> Column:
    """Scalar digest of a signature array (md5 of the comma-joined decimal
    components) — the contract-facing column: drivers/oracles compare one
    string instead of an array<long>."""
    return F.md5(F.concat_ws(",", F.transform(sig, lambda x: x.cast("string"))))


def _band_rows(
    sigs: DataFrame, num_hashes: int, bands: int, key_col: str
) -> DataFrame:
    """(key, band, bucket) rows from a signature table: bucket = the raw
    comma-joined row-slice of the signature (equality on it IS slice
    equality — zero collision risk, SQL-mirrorable)."""
    rows = num_hashes // bands
    return sigs.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("signature", b * rows + r + 1).cast(
                                    "string"
                                )
                                for r in range(rows)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(key_col, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    rows = num_hashes // bands per band; two docs are candidates iff some
    band's row-slice is equal. Shuffle key is (band_id, band_key) — uniform
    by construction, no skew. The band key is the raw comma-joined slice
    (≤ ~44 bytes; equality on it is *exactly* slice equality, so the SQL
    oracle reproduces the candidate set with zero collision risk — a
    64-bit rehash would only save a few shuffle bytes). Returns candidates
    with the estimated Jaccard (matching signature fraction).

    ``docs``: (``doc_id``, ``text``); signatures over 3-token shingles."""
    rows = num_hashes // bands
    # docs with < 3 tokens would carry the identity signature [p, p, ...]:
    # they have no shingles to be similar BY, yet every one of them would
    # collide with every other in EVERY band — k such docs fabricate
    # k(k-1)/2 est_jaccard=1.0 pairs for unrelated content AND pile onto
    # one hot shuffle key. The exact Jaccard path emits nothing for them;
    # this path must not either. Filter on the cheap raw-text condition
    # BEFORE signature compute (an array-inequality filter on the
    # signature column costs a full re-evaluation of the hash fold).
    docs = docs.filter(F.size(_tokens(F.col("text"))) >= 3)
    sigs = minhash_signatures(docs, num_hashes, 3, "text", "doc_id")
    # candidate generation shuffles (band, bucket, id) rows only — carrying
    # the 32-long signature arrays through the join + distinct would move
    # every signature bands× through two exchanges; they re-attach below,
    # once per surviving distinct pair (same shape as
    # similarity.neardup_lsh_multiprobe)
    banded = _band_rows(sigs, num_hashes, bands, "doc_id")

    a = banded.alias("a")
    b_ = banded.alias("b")
    cand = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")),
        "doc_a",
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")),
        "doc_b",
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))


# ---------------------------------------------------------------------------
# SimHash (pandas-UDF sketch)
# ---------------------------------------------------------------------------

def _simhash64(tokens: list[str]) -> int:
    """Deterministic 64-bit SimHash (md5-derived token hashes).

    Reference scalar form, kept as the semantics oracle for the vectorized
    batch kernel below (tests assert bit-exact agreement)."""
    acc = [0] * 64
    for t in tokens:
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    v = 0
    for bit in range(64):
        if acc[bit] > 0:
            v |= 1 << bit
    return v - (1 << 64) if v >= (1 << 63) else v  # two's-complement into int64


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash over an Arrow batch: one md5 per token (the only
    Python-loop work), then numpy does all 64-bit accumulation —
    ``frombuffer → unpackbits → add.reduceat → packbits`` — instead of the
    O(tokens × 64) interpreter loop of the scalar form. Bit-exact with
    ``_simhash64``."""
    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    null_mask = np.zeros(n, dtype=bool)
    chunks: list[bytes] = []
    starts: list[int] = []  # digest-row offset of each non-empty doc
    doc_idx: list[int] = []  # position in `out` for each entry in `starts`
    pos = 0
    md5 = hashlib.md5
    for i, t in enumerate(texts):
        if t is None or (isinstance(t, float) and pd.isna(t)):
            null_mask[i] = True
            continue
        toks = [w for w in t.lower().split(" ") if w]
        if not toks:
            continue  # empty doc → sketch 0 (matches scalar form)
        starts.append(pos)
        doc_idx.append(i)
        chunks.extend(md5(w.encode()).digest()[:8] for w in toks)
        pos += len(toks)
    if starts:
        # (N_tokens, 8) bytes, big-endian per digest; reverse bytes so that
        # byte j holds logical bits 8j..8j+7, then unpack little-bit-order
        # → column `bit` is exactly `(h >> bit) & 1` of the scalar form.
        arr = np.frombuffer(b"".join(chunks), dtype=np.uint8).reshape(-1, 8)[:, ::-1]
        bits = np.unpackbits(arr, axis=1, bitorder="little").astype(np.int32)
        signed = bits * 2 - 1  # ±1 votes
        sums = np.add.reduceat(signed, np.asarray(starts), axis=0)
        majority = sums > 0  # strict >, ties → 0 bit (matches scalar form)
        packed = np.ascontiguousarray(np.packbits(majority, axis=1, bitorder="little"))
        out[np.asarray(doc_idx)] = packed.view("<u8").ravel().view(np.int64)
    res = pd.array(out, dtype="Int64")
    res[null_mask] = pd.NA  # NULL text → NULL sketch
    return pd.Series(res)


@pandas_udf(T.LongType())
def _simhash_udf(text: pd.Series) -> pd.Series:
    return _simhash_batch(text)


def simhash_buckets(
    docs: DataFrame, text_col: str = "text", key_col: str = "doc_id", bucket_bits: int = 16
) -> DataFrame:
    """doc → (simhash, bucket): near-dups collide in high-bit buckets;
    callers groupBy bucket then verify with hamming distance."""
    sh = _simhash_udf(F.col(text_col))
    return docs.select(
        F.col(key_col),
        sh.alias("simhash"),
        F.shiftrightunsigned(sh, 64 - bucket_bits).alias("bucket"),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of XOR — bit_count is native in Spark 3.5+/4.x."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs via SimHash: candidates collide in the top-bits
    bucket (equi-join — the quadratic term is bounded per bucket), then
    verified with exact hamming distance ≤ ``max_hamming``.

    Shuffle key is the bucket (id + sketch are 16 bytes/row); like all the
    near-dup paths here, no cartesian anywhere. Note the recall contract:
    a pair whose sketches differ inside the top 16 bits lands in
    different buckets and is missed — callers trade bucket bits down (or
    probe rotated sketches) for recall, exactly the MMDS trade.

    ``docs``: (``doc_id``, ``text``)."""
    sk = simhash_buckets(docs, "text", "doc_id", 16)
    a = sk.alias("a")
    b = sk.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# connected components (iterative) — dedup cluster closure
# ---------------------------------------------------------------------------

# Edge lists up to this size are labeled on the driver. 10^5 collected
# edges are 10^5 Python Rows plus a union-find dict of at most 2·10^5
# ids: about 40 MB of Python heap for long ids, and a few MB of
# result rows on the JVM side of the collect. The label frame's Arrow
# batches stay far under Spark's 48 MB local-relation threshold
# (spark.sql.execution.arrow.localRelationThreshold), so it stays a local
# relation. Above it the star rounds keep the work on the executors,
# where memory scales with the cluster.
_DRIVER_CC_EDGES = 100_000


def _min_labels(pairs) -> tuple[list, list]:
    """Union-find over ``(u, v)`` pairs, each root kept at its set's
    minimum (the larger root is linked under the smaller). Returns
    ``(nodes, components)`` as two parallel lists."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    return nodes, [find(x) for x in nodes]


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14, Alg. 1): every node connects its
    strictly-larger neighbors to the minimum of its closed neighborhood.
    Input/output edges are canonical (child > parent)."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round (ibid., Alg. 2): every node links all its
    smaller-or-equal neighbors (and itself) to their collective minimum.
    Canonical-form in, canonical-form out."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    withm = e.join(mins, "u")
    return (
        withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(withm.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """True iff the canonical edges (child ``u`` > parent ``v``) form a
    forest of stars: every child has exactly one parent and no parent is
    also a child. One groupBy over each node's roles, one action: with
    ``c`` = edges the node is the child of and ``p`` = 1 if it is anyone's
    parent, a node breaks the shape exactly when ``c + p > 1``."""
    roles = (
        e.select(F.col("u").alias("node"), F.lit(1).alias("child"), F.lit(0).alias("parent"))
        .union(e.select(F.col("v").alias("node"), F.lit(0), F.lit(1)))
        .groupBy("node")
        .agg(F.sum("child").alias("c"), F.max("parent").alias("p"))
    )
    return roles.filter(F.col("c") + F.col("p") > 1).isEmpty()


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 40,
    return_rounds: bool = False,
):
    """Connected components over an undirected near-dup edge list — the
    transitive closure the keep-first star rule (``dedup_keep_list``)
    deliberately skips. Returns (node, component) with component = the
    minimum id in the node's component.

    Two paths, chosen from the size of the canonical (deduplicated,
    self-loop-free) edge list, which one ``limit(T + 1).collect()`` both
    measures and fetches (T = ``_DRIVER_CC_EDGES``):

    - At most T edges: a union-find on the driver labels them (0 rounds).
      The labels go back into the JVM as an Arrow table, so the result
      is a local relation even with no edges: no Python worker runs when
      it is scanned. A frame built from a Python list (or an empty
      pandas frame) would scan through a ``PythonRDD``.
    - More than T edges: large-star/small-star alternation (Kiveris
      et al., SoCC'14) on the executors, below.

    Why star contraction and not min-label propagation: propagation needs
    diameter rounds (an adversarial 10^6-link near-dup chain = 10^6
    shuffles), while the star alternation contracts paths exponentially —
    O(log^2 n) rounds worst case, and in practice ~log(diameter)
    alternations. Each round is a groupBy + join on node ids only
    (id-only shuffles, payloads never move), and ``localCheckpoint``
    truncates the iterative lineage.

    Convergence is tested on the round's own output: the loop stops once
    the canonical edges form a star forest (``_is_star_forest``: every
    child has exactly one parent, and no parent is also a child). A
    canonical star forest is a fixpoint of both the large-star and the
    small-star step, so the test is exact, not a checksum, and no extra
    round is spent confirming that the edge set stopped changing. Each
    star's root is then its component's minimum (the steps preserve
    connectivity and a root is smaller than its children), so the output
    is read straight off the final edges: (child, root) for every edge
    plus (root, root) for every root. A round budget overrun raises:
    truncated labels are wrong labels, so they are never returned
    (ADVICE r3).

    Node ids keep their INPUT type: every primitive here (least/greatest,
    min, >, grouping by id) only needs an orderable type, so string doc ids
    work directly — component = lexicographic minimum for strings, numeric
    minimum for numbers. (Previously cast to long, which threw under ANSI
    for non-numeric ids — ADVICE r5.) The driver path keeps the same rule:
    the label frame's schema is the input id type, and Python's ``<`` on
    the collected ids orders integers, decimals, dates and strings as
    Spark does (UTF-8 byte order is code-point order).

    ``edges``: (``doc_a``, ``doc_b``)."""
    e = (
        edges.select(
            F.col("doc_a").alias("u"),
            F.col("doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    small = e.limit(_DRIVER_CC_EDGES + 1).collect()
    if len(small) <= _DRIVER_CC_EDGES:
        nodes, comps = _min_labels(small)
        dt = e.schema["u"].dataType
        out = edges.sparkSession.createDataFrame(
            pa.Table.from_pydict({"node": nodes, "component": comps}),
            T.StructType(
                [T.StructField("node", dt), T.StructField("component", dt)]
            ),
        )
        return (out, 0) if return_rounds else out
    for rounds in range(1, max_iter + 1):
        e = _small_star(_large_star(e)).localCheckpoint()
        if _is_star_forest(e):
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"max_iter={max_iter} alternations — pathological for a "
            f"star-contraction algorithm; check the edge list"
        )
    out = e.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )
    return (out, rounds) if return_rounds else out


# ---------------------------------------------------------------------------
# span/line dedup and span surgery (FineWeb/RefinedWeb/C4-style), on one
# private core: _frequent, _eval_shingles, _rejoin, _drop_covered
# ---------------------------------------------------------------------------

def _frequent(rows: DataFrame, value_col: str, min_docs: int) -> DataFrame:
    """The ``value_col`` values of ``(doc, value_col)`` rows that occur in
    ≥ ``min_docs`` DISTINCT docs, one column. distinct(doc, value) then
    groupBy(value): one shuffle keyed by the raw value, partial agg
    collapsing within-doc repeats map-side. Keying by the raw string (no
    digest) keeps the DuckDB oracles byte-identical with no collision
    caveat."""
    return (
        rows.select("doc", value_col)
        .distinct()
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select(value_col)
    )


def _eval_shingles(eval_docs: DataFrame, n: int) -> DataFrame:
    """Distinct ``n``-gram shingles of an evaluation set as one ``span``
    column — the small, broadcast side of ``corpus.decontaminate`` and
    ``corpus.remove_eval_spans``."""
    return eval_docs.select(
        F.explode(_shingles(F.col("text"), n)).alias("span")
    ).distinct()


def _rejoin(
    base: DataFrame, kept: DataFrame, pos: str, piece: str, sep: str
) -> DataFrame:
    """Ordered reassembly of the surviving ``(doc, pos, piece)`` rows:
    groupBy(doc) (id-keyed) sorts each doc's pieces by position and joins
    them with ``sep``. Returns the rows of ``base`` (the operator's whole
    input, keyed by ``doc_id``) with ``clean_text`` and ``n_kept`` added
    — a doc with nothing left keeps its row with ``''`` and 0 — so a
    caller filters the result instead of joining it back to its rows."""
    rebuilt = kept.groupBy(F.col("doc").alias("doc_id")).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos, piece))),
                lambda s: s[piece],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return base.join(rebuilt, "doc_id", "left").select(
        *base.columns,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def _drop_covered(
    docs: DataFrame, n: int, drop_set: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Span surgery: drop every token position covered by an ``n``-gram
    in the one-column ``span`` table ``drop_set(spans)`` — which may be
    derived from the docs' own positional ``(doc, pos, span)`` rows or
    ignore them — and rejoin survivors in order. Returns the input
    columns plus (clean_text, n_kept), one row per input row;
    ``clean_text`` is the tokenizer-normalized reconstruction
    (lowercased, separator runs collapsed), NOT a substring of the raw
    text.

    Linear in token positions: matched spans explode to their ≤ n covered
    positions and distinct on (doc, position), the token positions
    left-anti join against them (keyed by (doc, pos)), then ``_rejoin``."""
    spans = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(_ngrams(F.col("text"), n)).alias("pos0", "span"),
    ).select("doc", (F.col("pos0") + 1).alias("pos"), "span")
    covered = (
        spans.join(drop_set(spans), "span")
        .select(
            "doc",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(_tokens(F.col("text"))).alias("tpos0", "tok"),
    ).select("doc", (F.col("tpos0") + 1).alias("tpos"), "tok")
    return _rejoin(
        docs, toks.join(covered, ["doc", "tpos"], "left_anti"), "tpos", "tok", " "
    )


def dup_span_stats(docs: DataFrame, n: int = 8, min_docs: int = 2) -> DataFrame:
    """Per-document duplicated-span statistics: how many of a doc's token
    n-gram positions carry a span that also appears in ≥ ``min_docs``
    DISTINCT documents. The span-level analogue of paragraph/line exact
    dedup in web-corpus pipelines (FineWeb, RefinedWeb): a high
    ``n_dup_spans / n_spans`` ratio marks boilerplate or cross-document
    template text that doc-level MinHash misses.

    Returns (doc_id, n_spans, n_dup_spans) — pure counts, exactly
    SQL-mirrorable; zero rows are kept via the final left join (a short doc
    has no spans but is still a corpus row).

    100 TB shape: explode → ``_frequent`` span set (one shuffle keyed by
    span) → left join of the positional spans against it on the span key
    → groupBy(doc) counts (id-keyed). No pairwise term at all — unlike
    ngram_jaccard_pairs there is no per-shingle quadratic, so no
    hot-shingle cap is needed; the widest shuffle is O(total token
    positions).

    ``docs``: (``doc_id``, ``text``)."""
    spans = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(_ngrams(F.col("text"), n)).alias("span"),
    )
    dup = _frequent(spans, "span", min_docs).withColumn("is_dup", F.lit(1))
    per = (
        spans.join(dup, "span", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_spans"),
        )
    )
    return (
        docs.select(F.col("doc_id"))
        .join(per.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        )
    )


def remove_dup_spans(docs: DataFrame, n: int = 8, min_docs: int = 2) -> DataFrame:
    """Rewrite each document with cross-document duplicated spans REMOVED —
    the removal half of the FineWeb/RefinedWeb span-dedup recipe whose
    measurement half is :func:`dup_span_stats`. A token position is dropped
    when ANY token n-gram covering it also occurs in ≥ ``min_docs`` distinct
    documents; surviving tokens are rejoined in original order.

    Returns the input columns plus (clean_text, n_kept), the
    ``_drop_covered`` surgery with the ``_frequent`` span set as its drop
    set; callers wanting raw-text surgery should map kept positions back
    themselves.

    100 TB shape: strictly linear in token positions, no pairwise term.
    The widest shuffle is the span-keyed document frequency, O(total
    token positions) — same bound as dup_span_stats.

    ``docs``: (``doc_id``, ``text``, ...)."""
    return _drop_covered(
        docs, n, lambda spans: _frequent(spans, "span", min_docs)
    )


def dedup_lines(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Line-level exact dedup — the C4 / RefinedWeb boilerplate recipe:
    any line (trimmed, case-preserved) that occurs in ≥ ``min_docs``
    DISTINCT documents is removed from EVERY document; survivors rejoin
    in original order. This is the coarse sibling of
    :func:`remove_dup_spans` (cross-document n-gram surgery): lines
    catch nav bars / cookie banners / license headers wholesale, spans
    catch in-line template fragments.

    Returns the input columns plus (n_lines, clean_text, n_kept) — every
    input row is kept; a fully-boilerplate doc comes back with
    ``clean_text = ''`` so the caller decides whether to drop it (C4
    drops; we don't decide here because the row also carries the
    evidence). NULL text is a doc with no lines: ``n_lines`` 0,
    ``clean_text`` ``''``.

    100 TB shape: strictly linear, no pairwise term. (1) split + posexplode
    to (doc, pos, line); blank lines are kept in the doc but never counted
    or removed. (2) ``_frequent`` line set — ONE shuffle keyed by the raw
    trimmed line. (3) left join positions against it (same line-keyed
    shuffle), (4) ``_rejoin`` ordered reassembly (id-keyed). Skew note: a
    universal boilerplate line ("END" in a billion docs) is a maximally
    hot key in step 3's join — broadcast the dup set when it fits (it
    usually does: duplicated lines ≪ all lines), else AQE skew-join splits
    the probe side (on by default in this session, engagement tested in
    test_plan_quality).

    ``docs``: (``doc_id``, ``text``, ...); lines split on ``\\n``."""
    text = F.col("text")
    # size(NULL) is NULL under ANSI and -1 without it; NULL text has no lines
    n_lines = F.when(text.isNull(), F.lit(0)).otherwise(F.size(F.split(text, "\n")))
    docs = docs.withColumn("n_lines", n_lines.cast("long"))
    lines = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(text, "\n")).alias("pos0", "raw"),
    ).select(
        "doc",
        (F.col("pos0") + 1).alias("pos"),
        "raw",
        F.trim(F.col("raw")).alias("line"),
    )
    dup = _frequent(
        lines.filter(F.col("line") != F.lit("")), "line", min_docs
    ).withColumn("_dup", F.lit(1))
    return _rejoin(
        docs,
        lines.join(dup, "line", "left").filter(F.col("_dup").isNull()),
        "pos", "raw", "\n",
    )


def neardup_keep_best(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """End-to-end near-dup canonicalization — the step every production
    dedup recipe (Lee et al. "Deduplicating Training Data", FineWeb,
    Dolma) runs AFTER candidate pairs are found: cluster the pair graph
    with connected components, then keep exactly ONE document per
    cluster — the best by ``(n_chars DESC NULLS LAST, doc_id ASC)`` —
    instead of ``dedup_keep_list``'s keep-lowest-id rule, which can throw
    away a long original in favor of a truncated copy.

    Returns the input columns plus (component, keep), one row per input
    row; rows with a NULL ``doc_id`` have no component and are dropped.
    Documents in no pair are their own singleton component and keep
    themselves; callers filter ``keep`` to materialize the deduped
    corpus, or keep the full annotation for audit.

    Engine-exactness: the winner rule compares ``n_chars`` (an INTEGER
    quality — chars, tokens, an upstream score scaled to int) and the
    key, both cast to long, so there is no float drift anywhere;
    clustering is min-id labeling, already oracle-checked
    (``dedup_components``).

    100 TB shape: components via large-star/small-star (id-only
    shuffles, O(log^2 n) alternations — ``connected_components_star``);
    a pair graph of at most ``_DRIVER_CC_EDGES`` edges is instead labeled
    on the driver and comes back as an Arrow-built local relation, so the
    label join below scans it without a job or a Python worker; the
    winner election is ONE map-combinable groupBy(component) of
    (component, quality, id) triples — no window, no per-cluster task
    skew (the agg is a MIN, partial-aggregated map-side even if one
    cluster holds millions of docs); final annotate is a component-keyed
    broadcast-or-shuffle join of winners (winner table has one row per
    component, ≪ corpus).

    ``docs``: (``doc_id``, ``n_chars``, ...); ``pairs``: (``doc_a``, ``doc_b``)."""
    # this operator's contract IS numeric (quality + keys cast to long),
    # so cast the edge endpoints too — connected_components_star itself
    # is type-preserving and would otherwise label string nodes
    comp = connected_components_star(
        pairs.select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
        )
    )
    key = F.col("doc_id").cast("long")
    quality = F.col("n_chars").cast("long")
    labeled = (
        docs.join(comp, key == comp["node"], "left")
        .drop("node")
        .withColumn("component", F.coalesce("component", key))
    )
    # MIN over (quality is NULL, -quality, id): a NULL quality ranks after
    # every non-NULL one, as ORDER BY q DESC puts NULLs last
    winners = labeled.groupBy("component").agg(
        F.min(
            F.struct(
                quality.isNull().alias("nul"), (-quality).alias("nq"), key.alias("k")
            )
        ).alias("w")
    ).select("component", F.col("w.k").alias("_keep_id"))
    return labeled.join(winners, "component").select(
        *docs.columns, "component", (key == F.col("_keep_id")).alias("keep")
    )


def fingerprint_index(docs: DataFrame) -> DataFrame:
    """Distinct bag-of-words fingerprints of an accepted corpus — the
    bootstrap (and the persisted shape) of :func:`incremental_dedup`'s
    index: one 32-char md5 string column, nothing else.

    ``docs``: (``text``)."""
    fp = bow_fingerprint(F.col("text"))
    return docs.select(fp.alias("fingerprint")).distinct()


def incremental_dedup(new_docs: DataFrame, index: DataFrame) -> DataFrame:
    """Incremental (delta) dedup — the mode a 100 TB corpus actually
    runs in production: a new crawl batch arrives and must be deduped
    BOTH within itself AND against the already-accepted corpus, without
    re-reading that corpus's text. ``index`` is the persisted fingerprint
    set of everything accepted so far (one ``fingerprint`` string column —
    exactly what this function's keepers produce, so runs chain).

    The fingerprint is :func:`fingerprint_dedup`'s bag-of-words md5
    (sorted distinct token set), so an index bootstrapped from a full-
    corpus pass and one built batch-by-batch agree bit-for-bit.

    Returns one row per NEW doc: (key, fingerprint, status) with status
    'dup_in_index' (fingerprint already accepted in a prior batch),
    'dup_in_batch' (another doc in THIS batch has the same fingerprint
    and a lower key — that one is kept), or 'kept'. Callers filter
    status='kept' to admit docs, and union those fingerprints into the
    index for the next batch.

    100 TB shape: fingerprints are map-side exprs; within-batch winners
    are one map-combinable groupBy(fingerprint) MIN over (fp, key) —
    batch-sized, not corpus-sized; the cross-batch check is a
    fingerprint-keyed join of the batch against the index where the
    moving side is the (small) BATCH — the index side streams through
    the join without ever shuffling its text (it has none: 32-char
    fingerprints only). Priority rule matches a replay of the combined
    corpus: an index hit outranks a batch winner.

    ``new_docs``: (``doc_id``, ``text``); ``index``: (``fingerprint``)."""
    fp = bow_fingerprint(F.col("text"))
    base = new_docs.select(F.col("doc_id"), fp.alias("fingerprint"))
    seen = (
        index.select(F.col("fingerprint"))
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    winners = base.groupBy("fingerprint").agg(F.min("doc_id").alias("_win"))
    return (
        base.join(winners, "fingerprint")
        .join(seen, "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.when(F.col("_seen"), F.lit("dup_in_index"))
            .when(F.col("doc_id") != F.col("_win"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def minhash_band_index(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """The persisted LSH index of an accepted corpus: (key, band, bucket)
    rows — exactly the table :func:`incremental_neardup` joins new
    batches against, and exactly what the banded pair join uses
    internally, so a batch admitted against this index collides with the
    same partners a full-corpus :func:`minhash_lsh_pairs` run would
    find. ~44 bytes × bands per doc; the corpus text stays cold."""
    docs = docs.filter(F.size(_tokens(F.col(text_col))) >= n)
    sigs = minhash_signatures(docs, num_hashes, n, text_col, key_col)
    return _band_rows(sigs, num_hashes, bands, key_col)


def incremental_neardup(new_docs: DataFrame, index: DataFrame) -> DataFrame:
    """Incremental NEAR-dup dedup — :func:`incremental_dedup`'s sibling
    for the fuzzy tier: classify every new-batch document against the
    persisted :func:`minhash_band_index` of the accepted corpus using
    the FineWeb band-collision rule (any shared (band, bucket) ⇒
    near-duplicate; no verification pass, matching
    :func:`minhash_lsh_pairs`'s candidate semantics).

    Returns one row per NEW doc: (key, status, n_index_partners) with
    status 'neardup_index' (collides with ≥1 accepted doc — counted
    distinct in n_index_partners), 'neardup_batch' (no index hit, but
    shares a bucket with a LOWER-keyed batch doc — the star keep-first
    rule, same over-keep/never-over-drop trade as
    :func:`dedup_keep_list`), or 'kept'. Docs with < 3 tokens have no
    shingles to be similar BY and are 'kept' with 0 partners (same
    short-doc guard as the pair path). Callers admit 'kept' docs and
    append ``minhash_band_index(kept)`` to the index — chaining batches
    reproduces a replay's bucket occupancy.

    100 TB shape: the batch's (band, bucket) rows join the index on a
    uniform-by-construction key (no skew); what shuffles is bands× the
    BATCH plus the index's ~44-byte rows — never any text; both
    classifications are map-combinable groupBys of the batch.

    ``new_docs``: (``doc_id``, ``text``); ``index``: (``doc_id``, ``band``,
    ``bucket``), built with the defaults: 32 hashes in 8 bands over
    3-token shingles."""
    batch = minhash_band_index(
        new_docs, 32, 8, 3, "text", "doc_id"
    )
    idx = index.select(
        F.col("doc_id").alias("_old"), "band", "bucket"
    ).distinct()
    hits = (
        batch.join(idx, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(F.countDistinct("_old").alias("n_index_partners"))
    )
    mins = batch.groupBy("band", "bucket").agg(F.min("doc_id").alias("_min"))
    batch_dup = (
        batch.join(mins, ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("_min"))
        .select("doc_id")
        .distinct()
        .withColumn("_bd", F.lit(True))
    )
    return (
        new_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .join(batch_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_index_partners") > 0, F.lit("neardup_index"))
            .when(F.col("_bd"), F.lit("neardup_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("n_index_partners", F.lit(0)).cast("long").alias(
                "n_index_partners"
            ),
        )
    )
