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

def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate stats via md5 hash-groupBy."""
    h = F.md5(F.col(text_col))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(h)).cast("long").alias("n_dup_rows"),
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep one row per exact text (lowest key wins — deterministic)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (
        docs.withColumn("_keep", F.min(key_col).over(w) == F.col(key_col))
        .filter(F.col("_keep"))
        .drop("_keep")
    )


def bow_fingerprint(text: Column) -> Column:
    """Bag-of-words content fingerprint: md5 of the sorted distinct token
    set — the ONE fingerprint definition shared by fingerprint_dedup,
    incremental_dedup/fingerprint_index, and corpus_diff, so their
    outputs are mutually joinable."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(_tokens(text))), " "))


def fingerprint_dedup(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Near-dup groups under a bag-of-words fingerprint: md5 of the sorted
    distinct token set. Catches reorderings/duplicated-word edits that
    exact dedup misses, still one hash-groupBy shuffle."""
    fp = bow_fingerprint(F.col(text_col))
    return (
        docs.select(F.col(key_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(key_col).alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard via shingle inverted index
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """All pairs with token-n-gram Jaccard ≥ threshold.

    Plan shape: explode → (optional hot-shingle cap) → self-join on shingle
    → count pairwise intersections → join per-doc sizes → filter. The only
    quadratic term is per-shingle, bounded by ``max_shingle_freq``."""
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
    # sizes AFTER the cap: Jaccard over the same universe intersections are
    # counted in (sizes-before-cap would bias similarity downward whenever
    # a stop-shingle is dropped)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return out


def dedup_keep_list(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """End-to-end near-dup *decision* pass: (dup_doc, keeper) rows — every
    doc with a lower-keyed near-duplicate partner (token-n-gram Jaccard ≥
    threshold) is dropped in favor of its lowest-keyed partner.

    This is the industry-standard "keep first" star rule applied per
    candidate pair (not transitive closure — connected components would
    need an iterative join; for dedup the star rule over-keeps slightly,
    never over-drops). Plan: the inverted-index pair join of
    ``ngram_jaccard_pairs`` + one groupBy — no new shuffle shapes."""
    pairs = ngram_jaccard_pairs(
        docs, n=n, threshold=threshold, text_col=text_col, key_col=key_col,
        max_shingle_freq=max_shingle_freq,
    )
    return pairs.groupBy(F.col("doc_b").alias("dup_doc")).agg(
        F.min("doc_a").alias("keeper")
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Asymmetric near-dup detection: (contained, container) pairs where
    the shingle-set containment C(A, B) = |A ∩ B| / |A| ≥ threshold.

    Jaccard misses the "quoted in full" case every web corpus has: a
    50-shingle page embedded verbatim inside a 5000-shingle page scores
    Jaccard ≈ 0.01 but containment 1.0 (Broder's resemblance-vs-
    containment distinction; CCNet/RefinedWeb drop such contained pages).
    The container per pair is the doc with the LARGER shingle set (ties:
    smaller key), so each emitted row reads "doc_a is (nearly) inside
    doc_b"; containment is computed against the smaller set.

    Plan shape — identical cost envelope to ``ngram_jaccard_pairs``: one
    explode, one broadcast hot-shingle anti-join, one per-shingle
    self-join with the quadratic term bounded by ``max_shingle_freq``,
    one groupBy per candidate pair. No new shuffle shapes; at 100 TB the
    inverted index never materializes all-pairs."""
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
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sized = (
        inter.join(
            sizes.select(F.col("doc").alias("da"), F.col("sz").alias("sz_a")), "da"
        )
        .join(sizes.select(F.col("doc").alias("db"), F.col("sz").alias("sz_b")), "db")
    )
    # orient: container = larger shingle set (ties: smaller key — da < db
    # always here, so the tie rule keeps da as container)
    small_is_a = (F.col("sz_a") < F.col("sz_b"))
    out = (
        sized.select(
            F.when(small_is_a, F.col("da")).otherwise(F.col("db")).alias("doc_a"),
            F.when(small_is_a, F.col("db")).otherwise(F.col("da")).alias("doc_b"),
            F.col("n_common"),
            (
                F.col("n_common")
                / F.when(small_is_a, F.col("sz_a")).otherwise(F.col("sz_b"))
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return out


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
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    rows = num_hashes // bands per band; two docs are candidates iff some
    band's row-slice is equal. Shuffle key is (band_id, band_key) — uniform
    by construction, no skew. The band key is the raw comma-joined slice
    (≤ ~44 bytes; equality on it is *exactly* slice equality, so the SQL
    oracle reproduces the candidate set with zero collision risk — a
    64-bit rehash would only save a few shuffle bytes). Returns candidates
    with the estimated Jaccard (matching signature fraction)."""
    rows = num_hashes // bands
    # docs with < n tokens would carry the identity signature [p, p, ...]:
    # they have no shingles to be similar BY, yet every one of them would
    # collide with every other in EVERY band — k such docs fabricate
    # k(k-1)/2 est_jaccard=1.0 pairs for unrelated content AND pile onto
    # one hot shuffle key. The exact Jaccard path emits nothing for them;
    # this path must not either. Filter on the cheap raw-text condition
    # BEFORE signature compute (an array-inequality filter on the
    # signature column costs a full re-evaluation of the hash fold).
    docs = docs.filter(F.size(_tokens(F.col(text_col))) >= n)
    sigs = minhash_signatures(docs, num_hashes, n, text_col, key_col)
    # candidate generation shuffles (band, bucket, id) rows only — carrying
    # the 32-long signature arrays through the join + distinct would move
    # every signature bands× through two exchanges; they re-attach below,
    # once per surviving distinct pair (same shape as
    # similarity.neardup_lsh_multiprobe)
    banded = _band_rows(sigs, num_hashes, bands, key_col)

    a = banded.alias("a")
    b_ = banded.alias("b")
    cand = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .select(
            F.col(f"a.{key_col}").alias("doc_a"),
            F.col(f"b.{key_col}").alias("doc_b"),
        )
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col(key_col).alias("doc_a"), F.col("signature").alias("sig_a")),
        "doc_a",
    ).join(
        sigs.select(F.col(key_col).alias("doc_b"), F.col("signature").alias("sig_b")),
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


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    bucket_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs via SimHash: candidates collide in the top-bits
    bucket (equi-join — the quadratic term is bounded per bucket), then
    verified with exact hamming distance ≤ ``max_hamming``.

    Shuffle key is the bucket (id + sketch are 16 bytes/row); like all the
    near-dup paths here, no cartesian anywhere. Note the recall contract:
    a pair whose sketches differ inside the top ``bucket_bits`` lands in
    different buckets and is missed — callers trade bucket_bits down (or
    probe rotated sketches) for recall, exactly the MMDS trade."""
    sk = simhash_buckets(docs, text_col, key_col, bucket_bits)
    a = sk.alias("a")
    b = sk.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .select(
            F.col(f"a.{key_col}").alias("doc_a"),
            F.col(f"b.{key_col}").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# connected components (iterative) — dedup cluster closure
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected near-dup edge list — the
    transitive closure the keep-first star rule (``dedup_keep_list``)
    deliberately skips. Returns (node, component) with component = the
    minimum doc id reachable from the node.

    Algorithm: min-label propagation to fixpoint — each round every node
    takes min(own label, neighbors' labels); converges in ≤ graph-diameter
    rounds. Each round is one join + one groupBy (both on the node id);
    ``localCheckpoint`` truncates the growing plan lineage each round
    (iterative DataFrame algorithms otherwise re-derive every prior round
    at each action). Convergence is detected from sum(label): labels only
    ever decrease, so an unchanged sum ⇒ fixpoint — one tiny aggregate
    action per round instead of a change-count join.

    Scale: rounds = component diameter (near-dup clusters are shallow —
    a handful of rounds); per-round cost is an id-only shuffle. For
    adversarially deep graphs the production upgrade is the large-star/
    small-star alternation (Kiveris et al., "Connected Components in
    MapReduce"), which contracts paths exponentially; the fixture graphs
    here are shallow and the simple propagation is the clearer reference
    implementation."""
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    labels = (
        sym.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    # max_iter bounds the CHANGING rounds (≤ graph diameter); the +1 is the
    # confirming round that observes no change — so max_iter == diameter is
    # sufficient, matching the docstring (a fixpoint reached on exactly the
    # max_iter-th round must not raise)
    for _ in range(max_iter + 1):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nbr"))
        )
        labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # truncated labels are WRONG (nodes > max_iter hops from their
        # component's minimum still carry a stale label) — never return
        # them silently (ADVICE r3); raise so the caller re-runs with a
        # higher budget or switches to large-star/small-star
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds (graph diameter exceeds the budget); raise max_iter or "
            f"use connected_components_star for deep graphs"
        )
    return labels.select("node", F.col("label").alias("component"))


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
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 40,
    return_rounds: bool = False,
):
    """Connected components by large-star/small-star alternation (Kiveris
    et al., SoCC'14) — the deep-graph production path. Same contract as
    ``connected_components``: returns (node, component) with component =
    the minimum id in the node's component.

    Why this exists next to min-label propagation: propagation needs
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
    plus (root, root) for every root. A round budget overrun raises,
    never returns truncated labels (same rule as ``connected_components``).

    Node ids keep their INPUT type: every primitive here (least/greatest,
    min, >, grouping by id) only needs an orderable type, so string doc ids
    work directly — component = lexicographic minimum for strings, numeric
    minimum for numbers. (Previously cast to long, which threw under ANSI
    for non-numeric ids — ADVICE r5.)"""
    e = (
        edges.select(
            F.col(a_col).alias("u"),
            F.col(b_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
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
# span-level duplication stats (FineWeb/RefinedWeb-style exact span dedup)
# ---------------------------------------------------------------------------

def _pos_spans(text: Column, n: int) -> Column:
    """Positional token n-grams WITH multiplicity (unlike ``_shingles``,
    which distincts): one span per position, so per-doc counts measure how
    much of the document is covered by duplicated material."""
    return _ngrams(text, n)


def dup_span_stats(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span statistics: how many of a doc's token
    n-gram positions carry a span that also appears in ≥ ``min_docs``
    DISTINCT documents. The span-level analogue of paragraph/line exact
    dedup in web-corpus pipelines (FineWeb, RefinedWeb): a high
    ``n_dup_spans / n_spans`` ratio marks boilerplate or cross-document
    template text that doc-level MinHash misses.

    Returns (doc_id, n_spans, n_dup_spans) — pure counts, exactly
    SQL-mirrorable; zero rows are kept via the final left join (a short doc
    has no spans but is still a corpus row).

    100 TB shape: explode → distinct(doc, span) → groupBy(span) document
    frequency (one shuffle keyed by span; partial agg collapses repeats
    map-side) → semi-shaped left join of the positional spans against the
    duplicated-span set on the span key → groupBy(doc) counts (id-keyed).
    No pairwise term at all — unlike ngram_jaccard_pairs there is no
    per-shingle quadratic, so no hot-shingle cap is needed; the widest
    shuffle is O(total token positions). The shuffles key by the raw span
    string, so the DuckDB oracle is byte-identical with no collision
    caveat."""
    spans = docs.select(
        F.col(key_col).alias("doc"),
        F.explode(_pos_spans(F.col(text_col), n)).alias("span"),
    )
    dup = (
        spans.select("doc", "span")
        .distinct()
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("span", F.lit(1).alias("is_dup"))
    )
    per = (
        spans.join(dup, "span", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_spans"),
        )
    )
    return (
        docs.select(F.col(key_col).alias("doc_id"))
        .join(per.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        )
    )


def remove_dup_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each document with cross-document duplicated spans REMOVED —
    the removal half of the FineWeb/RefinedWeb span-dedup recipe whose
    measurement half is :func:`dup_span_stats`. A token position is dropped
    when ANY token n-gram covering it also occurs in ≥ ``min_docs`` distinct
    documents; surviving tokens are rejoined in original order.

    Returns (doc_id, clean_text, n_kept). ``clean_text`` is the
    tokenizer-normalized reconstruction (lowercased, separator runs
    collapsed — the same normalization every dedup operator here applies),
    NOT a substring of the raw text; callers wanting raw-text surgery should
    map kept positions back themselves.

    100 TB shape: strictly linear in token positions, no pairwise term —
    (1) positional spans explode, (2) document frequency per span (shuffle
    keyed by span), (3) duplicated occurrences explode to their ≤ n covered
    positions and distinct on (doc, position), (4) left-anti join of the
    token positions against the covered set (shuffle keyed by (doc, pos)),
    (5) groupBy(doc) ordered reassembly. The widest shuffle is O(total
    token positions) keyed by span — same bound as dup_span_stats. Steps
    2-4 key by the raw span string, so the DuckDB oracle is
    byte-identical."""
    spans = docs.select(
        F.col(key_col).alias("doc"),
        F.posexplode(_pos_spans(F.col(text_col), n)).alias("pos0", "span"),
    ).select("doc", (F.col("pos0") + 1).alias("pos"), "span")
    dup = (
        spans.select("doc", "span")
        .distinct()
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("span")
    )
    covered = (
        spans.join(dup, "span")
        .select(
            "doc",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    toks = docs.select(
        F.col(key_col).alias("doc"),
        F.posexplode(_tokens(F.col(text_col))).alias("tpos0", "tok"),
    ).select("doc", (F.col("tpos0") + 1).alias("tpos"), "tok")
    rebuilt = (
        toks.join(covered, ["doc", "tpos"], "left_anti")
        .groupBy("doc")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    return (
        docs.select(F.col(key_col).alias("doc_id"))
        .join(rebuilt.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )

def dedup_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Line-level exact dedup — the C4 / RefinedWeb boilerplate recipe:
    any line (trimmed, case-preserved) that occurs in ≥ ``min_docs``
    DISTINCT documents is removed from EVERY document; survivors rejoin
    in original order. This is the coarse sibling of
    :func:`remove_dup_spans` (cross-document n-gram surgery): lines
    catch nav bars / cookie banners / license headers wholesale, spans
    catch in-line template fragments.

    Returns (doc_id, clean_text, n_lines, n_kept) — every input doc keeps
    a row; a fully-boilerplate doc comes back with ``clean_text = ''``
    so the caller decides whether to drop it (C4 drops; we don't decide
    here because the row also carries the evidence).

    100 TB shape: strictly linear, no pairwise term. (1) split + posexplode
    to (doc, pos, line); blank lines are kept in the doc but never counted
    or removed. (2) distinct(doc, line) → groupBy(line) document frequency
    — ONE shuffle keyed by line, partial agg collapses within-doc repeats
    map-side. (3) left join positions against the ≥min_docs line set (same
    line-keyed shuffle), (4) groupBy(doc) ordered reassembly (id-keyed).
    Steps 2-3 key by the raw trimmed line, so the DuckDB oracle is
    byte-identical with no collision caveat. Skew note: a universal
    boilerplate line ("END" in a billion docs) is a maximally hot key in
    step 3's join — broadcast the dup set when it fits (it usually does:
    duplicated lines ≪ all lines), else AQE skew-join splits the probe
    side (on by default in this session, engagement tested in
    test_plan_quality)."""
    lines = docs.select(
        F.col(key_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("pos0", "raw"),
    ).select(
        "doc",
        (F.col("pos0") + 1).alias("pos"),
        "raw",
        F.trim(F.col("raw")).alias("line"),
    )
    dup = (
        lines.filter(F.col("line") != F.lit(""))
        .select("doc", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("line", F.lit(1).alias("_dup"))
    )
    rebuilt = (
        lines.join(dup, "line", "left")
        .filter(F.col("_dup").isNull())
        .groupBy("doc")
        .agg(
            F.concat_ws(
                delim,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "raw"))),
                    lambda s: s["raw"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    n_lines = docs.select(
        F.col(key_col).alias("doc"),
        F.size(F.split(F.col(text_col), delim)).alias("n_lines"),
    )
    return (
        n_lines.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def neardup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str = "n_chars",
    key_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """End-to-end near-dup canonicalization — the step every production
    dedup recipe (Lee et al. "Deduplicating Training Data", FineWeb,
    Dolma) runs AFTER candidate pairs are found: cluster the pair graph
    with connected components, then keep exactly ONE document per
    cluster — the best by ``(quality_col DESC, key_col ASC)`` — instead
    of ``dedup_keep_list``'s keep-lowest-id rule, which can throw away a
    long original in favor of a truncated copy.

    Returns one row per input document: (doc_id, component, keep).
    Documents in no pair are their own singleton component and keep
    themselves; callers filter ``keep`` to materialize the deduped
    corpus, or keep the full annotation for audit.

    Engine-exactness: the winner rule compares ``quality_col`` (an
    INTEGER quality — chars, tokens, an upstream score scaled to int)
    and the key, so there is no float drift anywhere; clustering is
    min-id labeling, already oracle-checked (``dedup_components``).

    100 TB shape: components via large-star/small-star (id-only
    shuffles, O(log^2 n) alternations — ``connected_components_star``);
    the winner election is ONE map-combinable groupBy(component) of
    (component, quality, id) triples — no window, no per-cluster task
    skew (the agg is a MIN, partial-aggregated map-side even if one
    cluster holds millions of docs); final annotate is a component-keyed
    broadcast-or-shuffle join of winners (winner table has one row per
    component, ≪ corpus)."""
    # this operator's contract IS numeric (quality + keys cast to long),
    # so cast the edge endpoints too — connected_components_star itself
    # is type-preserving and would otherwise label string nodes
    comp = connected_components_star(
        pairs.select(
            F.col(a_col).cast("long").alias(a_col),
            F.col(b_col).cast("long").alias(b_col),
        ),
        a_col=a_col,
        b_col=b_col,
    )
    base = docs.select(
        F.col(key_col).cast("long").alias("_id"),
        F.col(quality_col).cast("long").alias("_q"),
    )
    labeled = (
        base.join(comp, base["_id"] == comp["node"], "left")
        .select("_id", "_q", F.coalesce("component", "_id").alias("component"))
    )
    winners = labeled.groupBy("component").agg(
        F.min(F.struct((-F.col("_q")).alias("nq"), F.col("_id").alias("k"))).alias("w")
    ).select("component", F.col("w.k").alias("_keep_id"))
    return (
        labeled.join(winners, "component")
        .select(
            F.col("_id").alias(key_col),
            F.col("component").cast("long").alias("component"),
            (F.col("_id") == F.col("_keep_id")).alias("keep"),
        )
    )


def fingerprint_index(
    docs: DataFrame, text_col: str = "text", fp_col: str = "fingerprint"
) -> DataFrame:
    """Distinct bag-of-words fingerprints of an accepted corpus — the
    bootstrap (and the persisted shape) of :func:`incremental_dedup`'s
    index: one 32-char md5 string column, nothing else."""
    fp = bow_fingerprint(F.col(text_col))
    return docs.select(fp.alias(fp_col)).distinct()


def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental (delta) dedup — the mode a 100 TB corpus actually
    runs in production: a new crawl batch arrives and must be deduped
    BOTH within itself AND against the already-accepted corpus, without
    re-reading that corpus's text. ``index`` is the persisted fingerprint
    set of everything accepted so far (one ``fp_col`` string column —
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
    corpus: an index hit outranks a batch winner."""
    fp = bow_fingerprint(F.col(text_col))
    base = new_docs.select(F.col(key_col), fp.alias("fingerprint"))
    seen = (
        index.select(F.col(fp_col).alias("fingerprint"))
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    winners = base.groupBy("fingerprint").agg(F.min(key_col).alias("_win"))
    return (
        base.join(winners, "fingerprint")
        .join(seen, "fingerprint", "left")
        .select(
            key_col,
            "fingerprint",
            F.when(F.col("_seen"), F.lit("dup_in_index"))
            .when(F.col(key_col) != F.col("_win"), F.lit("dup_in_batch"))
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


def incremental_neardup(
    new_docs: DataFrame,
    index: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
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
    :func:`dedup_keep_list`), or 'kept'. Docs with < n tokens have no
    shingles to be similar BY and are 'kept' with 0 partners (same
    short-doc guard as the pair path). Callers admit 'kept' docs and
    append ``minhash_band_index(kept)`` to the index — chaining batches
    reproduces a replay's bucket occupancy.

    100 TB shape: the batch's (band, bucket) rows join the index on a
    uniform-by-construction key (no skew); what shuffles is bands× the
    BATCH plus the index's ~44-byte rows — never any text; both
    classifications are map-combinable groupBys of the batch."""
    batch = minhash_band_index(
        new_docs, num_hashes, bands, n, text_col, key_col
    )
    idx = index.select(
        F.col(key_col).alias("_old"), "band", "bucket"
    ).distinct()
    hits = (
        batch.join(idx, ["band", "bucket"])
        .groupBy(key_col)
        .agg(F.countDistinct("_old").alias("n_index_partners"))
    )
    mins = batch.groupBy("band", "bucket").agg(F.min(key_col).alias("_min"))
    batch_dup = (
        batch.join(mins, ["band", "bucket"])
        .filter(F.col(key_col) != F.col("_min"))
        .select(key_col)
        .distinct()
        .withColumn("_bd", F.lit(True))
    )
    return (
        new_docs.select(key_col)
        .join(hits, key_col, "left")
        .join(batch_dup, key_col, "left")
        .select(
            key_col,
            F.when(F.col("n_index_partners") > 0, F.lit("neardup_index"))
            .when(F.col("_bd"), F.lit("neardup_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("n_index_partners", F.lit(0)).cast("long").alias(
                "n_index_partners"
            ),
        )
    )
