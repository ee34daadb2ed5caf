"""Record linkage: fuzzy (approximate) joins between TWO tables.

Entity resolution is the cross-table cousin of near-dup detection —
"which rows of A describe the same thing as rows of B" when the keys
don't line up (vendor feeds, crawl re-visits, catalog reconciliation).
The reference routes records by exact grep/glob matches
(`logpipe-output-es.c:543-560`); this module is that matching gate
generalised to set-similarity across tables, built on the same
inverted-index shape as ``operators/dedup.py:ngram_jaccard_pairs``.

100 TB shape: both sides explode to DISTINCT token n-grams and meet in
ONE shingle-keyed equi-join — the classic blocking step: only rows that
SHARE a shingle ever pair, so the quadratic term is per-shingle and the
hot-shingle cap bounds it exactly as in dedup (stop-shingles leave both
the intersection counts and the sizes, keeping Jaccard unbiased over
the surviving universe). No cartesian, no cross-table LIKE scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logpipe_spark.operators.dedup import _shingles


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """All cross-table pairs with token-n-gram Jaccard ≥ ``threshold``:
    returns (doc_id_l, doc_id_r, n_common, jaccard). Keys are
    independent namespaces — a left row never pairs with another left
    row (unlike the self-join dedup operator).

    The hot-shingle document frequency is computed over the UNION of
    both sides: a shingle that is a stop-phrase in either corpus would
    otherwise manufacture per-shingle quadratic work in the join.

    ``left`` and ``right``: (``doc_id``, ``text``)."""
    lsh = left.select(
        F.col("doc_id").alias("lk"),
        F.explode(_shingles(F.col("text"), n)).alias("shingle"),
    )
    rsh = right.select(
        F.col("doc_id").alias("rk"),
        F.explode(_shingles(F.col("text"), n)).alias("shingle"),
    )
    freq = (
        lsh.select("shingle")
        .unionAll(rsh.select("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    hot = F.broadcast(freq.filter(F.col("df") > max_shingle_freq))
    lsh = lsh.join(hot, "shingle", "left_anti")
    rsh = rsh.join(hot, "shingle", "left_anti")
    lsz = lsh.groupBy("lk").agg(F.count(F.lit(1)).alias("sz_l"))
    rsz = rsh.groupBy("rk").agg(F.count(F.lit(1)).alias("sz_r"))
    inter = (
        lsh.join(rsh, "shingle")
        .groupBy("lk", "rk")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(lsz, "lk")
        .join(rsz, "rk")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_l") + F.col("sz_r") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("lk").alias("doc_id_l"),
            F.col("rk").alias("doc_id_r"),
            "n_common",
            "jaccard",
        )
    )


def best_match(
    pairs: DataFrame,
    left_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """One winner per left key from a fuzzy_join result: highest
    ``jaccard``, ties broken by the smallest ``tiebreak_col`` (the
    right key by default) so the choice is total-ordered and
    deterministic. A map-combinable groupBy-MAX over a packed struct —
    no per-group window, so a left key with a million candidates costs
    one aggregation slot, not one task's sort (same election shape as
    neardup_keep_best).

    The packed struct is MIN(struct(-order, tiebreak)): negation lives on
    ``jaccard`` — numeric by contract (a similarity score) — never on
    the tiebreak column, which may be a string right-key (negating THAT
    threw under ANSI / inverted the smallest-tiebreak rule without —
    ADVICE r5). MIN of the struct = highest order, then smallest
    tiebreak, for any orderable tiebreak type."""
    tb = tiebreak_col or [
        c for c in pairs.columns if c != left_col
    ][0]
    packed = pairs.groupBy(left_col).agg(
        F.min(
            F.struct(
                (-F.col("jaccard")).alias("neg_o"),
                F.col(tb).alias("tb"),
                F.col("jaccard").alias("o"),
            )
        ).alias("w")
    )
    return packed.select(
        left_col,
        F.col("w.tb").alias(tb),
        F.col("w.o").alias("jaccard"),
    )
