"""Full-text relevance scoring: BM25 top-k search over a document corpus.

The reference greps lines (`logpipe-filter-grep`-style substring match,
`logpipe-output-es.c` ships lines TO a search engine); this module is the
analytics-engine counterpart — score and rank the corpus itself, the op a
training-data pipeline uses for targeted corpus curation ("pull the k
documents most about X") and that an ES consumer would otherwise round-trip
for.

Design for 100 TB:
- The query term set is tiny (a handful of literals), so per-document term
  frequencies are computed MAP-SIDE with ``size(filter(tokens, ...))`` —
  no explode, no per-term shuffle. The corpus is never shuffled at all.
- The global statistics BM25 needs (N, total token count, per-term document
  frequencies) reduce to ONE row via a partial+final hash aggregate; that
  row is broadcast back over the corpus (1-row broadcast nested-loop join —
  the same O(1)-row pattern the ANN queries use).
- Top-k is ``orderBy(...).limit(k)`` → TakeOrderedAndProject (per-partition
  heap + driver merge), never a global sort.

Cross-engine determinism: scores are doubles built ONLY from +, -, *, /
over exact integers and shared decimal literals — IEEE 754 ops are
correctly rounded in both engines, so the DuckDB oracle matches bit for
bit. That rules out ``ln``: libm and the JVM may differ in the last ulp.
The idf here is therefore the RSJ odds ratio (N - df + 0.5) / (df + 0.5)
— exp of the classic Robertson–Spärck-Jones log-idf, a per-term monotone
equivalent. Production ranking parity with Lucene would swap in
``ln(1 + odds)``; the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logpipe_spark.operators.dedup import _tokens

#: BM25 term-saturation and length-normalisation constants, shared as
#: decimal literals with the SQL mirror so both engines parse the same
#: double
BM25_K1 = 1.2
BM25_B = 0.75


def _term_freq(toks, term: str):
    """Map-side term frequency. A helper function (not an inline loop
    lambda) because a two-parameter lambda would be read by Spark as the
    (element, index) higher-order form."""
    return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("long")


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10) -> DataFrame:
    """Top-k documents by BM25 (rational-idf variant) for a bag of query
    terms. Returns (doc_id, dl, tf_<term>..., score) ordered by
    (score desc, id tiebreak), only docs matching ≥1 term.

    Two passes over the corpus (stats, then score) and zero corpus
    shuffles; the stats row is broadcast. ``docs``: (``doc_id``,
    ``text``); ``k1``/``b`` are :data:`BM25_K1`/:data:`BM25_B`.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError(f"duplicate query terms: {query_terms}")

    toks = _tokens(F.col("text"))
    per_doc = docs.select(
        F.col("doc_id"),
        F.size(toks).cast("long").alias("dl"),
        *[
            _term_freq(toks, t).alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )

    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )

    # One stats row broadcast over the corpus: O(1)-row BNLJ, the allowlisted
    # broadcast-crossJoin pattern (see tests/test_plan_quality.py bnlj_ok).
    scored = per_doc.crossJoin(F.broadcast(stats))

    # avgdl and every per-term weight in a FIXED association order, mirrored
    # verbatim by the oracle SQL: w_i = idf_i * (tf_i * (k1+1)) / denom_i.
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    terms = []
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df_ = F.col(f"df_{i}")
        idf = ((F.col("n_docs") - df_).cast("double") + F.lit(0.5)) / (
            df_.cast("double") + F.lit(0.5)
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
        terms.append(idf * (tf * F.lit(BM25_K1 + 1.0)) / denom)
    score = terms[0]
    for w in terms[1:]:  # left fold == the oracle's ((w0 + w1) + w2) ...
        score = score + w

    matched = None
    for i in range(len(query_terms)):
        hit = F.col(f"tf_{i}") > 0
        matched = hit if matched is None else (matched | hit)

    return (
        scored.where(matched)
        .select(
            F.col("doc_id"),
            F.col("dl"),
            *[F.col(f"tf_{i}").alias(f"tf_{i}") for i in range(len(query_terms))],
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_oracle_sql(query_terms: list[str], k: int = 10) -> str:
    """The DuckDB mirror of :func:`bm25_topk` over the ``documents``
    table, generated from the SAME constants so literals and association
    order match token for token."""
    tf_exprs = ",\n        ".join(
        "len(list_filter(toks, x -> x = '%s')) AS tf_%d" % (t.replace("'", "''"), i)
        for i, t in enumerate(query_terms)
    )
    df_exprs = ",\n        ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(query_terms))
    )
    k1_lit, one_minus_b, b_lit, k1p1 = (
        repr(BM25_K1),
        repr(1.0 - BM25_B),
        repr(BM25_B),
        repr(BM25_K1 + 1.0),
    )
    w_exprs = [
        f"(((CAST(n_docs - df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * {k1p1})"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1_lit} * ({one_minus_b} + {b_lit} *"
        f" (CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"
        for i in range(len(query_terms))
    ]
    score = w_exprs[0]
    for w in w_exprs[1:]:
        score = f"({score} + {w})"
    matched = " OR ".join(f"tf_{i} > 0" for i in range(len(query_terms)))
    tf_cols = ", ".join(f"tf_{i}" for i in range(len(query_terms)))
    return f"""
WITH per_doc AS (
    SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS dl,
        {tf_exprs}
    FROM (
        SELECT doc_id,
            list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents
    )
), stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl,
        {df_exprs}
    FROM per_doc
)
SELECT doc_id, dl, {tf_cols},
    {score} AS score
FROM per_doc CROSS JOIN stats
WHERE {matched}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Persisted inverted index + conjunctive boolean retrieval
# ---------------------------------------------------------------------------

def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of the index's bucket expression: the first 4 hex
    chars of md5(term) mod n_buckets. md5 is byte-identical across Python,
    Spark, and DuckDB, so the three agree on every term's shard."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:4], 16) % n_buckets


def write_inverted_index(docs: DataFrame, path: str, n_buckets: int = 64) -> None:
    """Materialize a term-sharded inverted index: posting rows
    (term, id, tf, dl) written **partitioned by a term-hash bucket**, so a
    query touches only the shards its terms live in — Spark partition
    pruning drops the other directories from the file listing before any
    IO (same layout discipline as similarity.write_lsh_index). The ES
    consumer the reference ships lines to (`logpipe-output-es.c`) builds
    exactly this structure server-side; here it is a first-class table.

    Build cost: one explode + one (term, id) hash aggregate — the partial
    aggregate combines map-side, so the shuffle carries collapsed postings,
    not raw tokens. The bucket repartition keys on 2^~6 values and writes
    one file per shard directory; keep n_buckets ≤ ~1024 at 100 TB and let
    max_records_per_file split the hot shards.

    ``docs``: (``doc_id``, ``text``); an existing ``path`` is overwritten."""
    if n_buckets < 1 or n_buckets > 65536:
        raise ValueError(f"n_buckets must be in [1, 65536]: {n_buckets}")
    toks = _tokens(F.col("text"))
    posting = (
        docs.select(
            F.col("doc_id"),
            F.size(toks).cast("long").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("term", "doc_id", "dl")  # dl is functionally dependent on id
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "bucket",
            (
                F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10)
                .cast("long")
                % n_buckets
            ),
        )
    )
    (
        posting.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def search_conjunctive(
    spark,
    path: str,
    terms: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """AND-of-terms retrieval against a :func:`write_inverted_index` table:
    returns (doc_id, total_tf, dl) for documents containing EVERY query term.
    The scan filters ``bucket IN (...)`` — a partition-column predicate
    that prunes untouched shard directories (asserted by numFiles metric in
    tests) — plus a pushed ``term IN (...)`` row filter; the surviving
    postings hash-aggregate by document (count == |terms| ⇒ all present).
    Only posting rows for the query terms ever cross the exchange — the
    corpus itself is never read."""
    if not terms:
        raise ValueError("terms must be non-empty")
    terms = sorted(set(terms))
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    idx = (
        spark.read.parquet(path)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(terms))
    )
    return (
        idx.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_nt"),  # (term, id) unique in the index
            F.sum("tf").cast("long").alias("total_tf"),
            F.max("dl").cast("long").alias("dl"),
        )
        .where(F.col("_nt") == len(terms))
        .select("doc_id", "total_tf", "dl")
    )


def conjunctive_oracle_sql(terms: list[str]) -> str:
    """DuckDB mirror of :func:`search_conjunctive` — computed DIRECTLY from
    the ``documents`` table (no index), so a green row proves the persisted index and
    its pruned scan reproduce the ground-truth boolean semantics."""
    terms = sorted(set(terms))
    tf_exprs = ",\n        ".join(
        "CAST(len(list_filter(toks, x -> x = '%s')) AS BIGINT) AS tf_%d"
        % (t.replace("'", "''"), i)
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"tf_{i}" for i in range(len(terms)))
    allp = " AND ".join(f"tf_{i} > 0" for i in range(len(terms)))
    return f"""
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents
), tf AS (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        {tf_exprs}
    FROM toks
)
SELECT doc_id, CAST({total} AS BIGINT) AS total_tf, dl
FROM tf WHERE {allp}
"""
