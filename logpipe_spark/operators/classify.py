"""Hashed linear quality classifier — fasttext-style corpus scoring.

The quality gate most production corpora actually ship (CCNet, LLaMA,
RedPajama) is not a heuristic but a LINEAR MODEL over hashed word
n-grams: tokenize, hash unigrams+bigrams into B buckets, average the
bucket weights, threshold. The model is tiny (B floats) and the scoring
pass is embarrassingly parallel — the exact shape Spark wants: broadcast
the weight vector, score map-side, never shuffle the corpus.

Two interchangeable execution paths, bit-identical by construction:

- **JVM expression path** (``weights=None``): bucket weights are derived
  deterministically from the bucket id (md5-based, engine-portable), and
  the whole score is one ``aggregate`` fold over the gram array — pure
  whole-stage codegen, zero Python, and mirrorable in ANSI SQL, which is
  what the contract oracle checks. This is the CI/parity mode.
- **Broadcast-weights pandas UDF path** (``weights=np.ndarray``): the
  production mode — a trained weight vector rides the UDF closure
  (Spark broadcasts it to every executor once) and each Arrow batch is
  scored in Python with the same tokenizer, same hash, same left-fold
  accumulation order, so a weights array filled by the pseudo-weight
  rule reproduces the JVM path float-for-float
  (`tests/test_classify.py`).

Determinism rules shared by both paths (and the SQL oracle):
tokens = non-empty runs of [a-z0-9] on the lowercased text; grams =
unigrams then bigrams joined by '_' in order; bucket = md5-60bit(gram)
mod B; score = left-fold sum of weights in gram order / n_grams
(0.0 when a document has no tokens). Left-fold order matters: float
addition is not associative, and all three engines fold left."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe_spark.operators.dedup import base_hash60

DEFAULT_BUCKETS = 1 << 12  # contract/test size; production ~1<<21

#: pseudo-weight scale: md5(bucket) mod 20001 mapped onto [-1.0, 1.0]
_W_MOD = 20001
_W_HALF = 10000


def tokens_expr(text: Column) -> Column:
    """Non-empty [a-z0-9] runs of the lowercased text, in order."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def grams_expr(toks: Column) -> Column:
    """Unigrams followed by '_'-joined bigrams — fasttext's default
    wordNgrams=2 feature set, in deterministic order."""
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    return F.concat(toks, bigrams)


def bucket_expr(gram: Column, buckets: int) -> Column:
    """Feature bucket of a gram: engine-portable 60-bit md5 hash mod B."""
    return base_hash60(gram) % buckets


def pseudo_weight_expr(bucket: Column) -> Column:
    """Deterministic stand-in weight for bucket b: uniformly spaced in
    [-1, 1] by a second md5 under salt ``w:`` — so both engines (and the
    numpy mirror) can materialise the identical 'model' with no weight
    file to ship."""
    h = base_hash60(F.concat(F.lit("w:"), bucket.cast("string")))
    return ((h % _W_MOD) - F.lit(_W_HALF)).cast("double") / _W_HALF


def classifier_score(
    df: DataFrame,
    weights=None,
    buckets: int = DEFAULT_BUCKETS,
    threshold: float = 0.0,
) -> DataFrame:
    """Score every document with the hashed linear model: ``df``'s columns
    plus ``(n_grams, score, keep)`` where ``keep = score > threshold``, so
    a gate is a filter on the scored frame, not a join back to ``df``.
    Map-only in both modes: the plan has no Exchange, no explode — one
    fused expression (JVM mode) or one Arrow-batched pandas UDF whose
    closure broadcasts the weight vector (production mode).

    ``df``: (``doc_id``, ``text``)."""
    if weights is None:
        # NULL text scores like an empty document (n_grams=0, score=0.0)
        # in BOTH paths — without the coalesce, ANSI size(NULL) would
        # leak a NULL n_grams the UDF path can't reproduce
        toks = tokens_expr(F.coalesce(F.col("text"), F.lit("")))
        grams = grams_expr(toks)
        n = F.size(grams)
        total = F.aggregate(
            grams,
            F.lit(0.0),
            lambda acc, g: acc
            + pseudo_weight_expr(bucket_expr(g, buckets)),
        )
        score = F.when(n > 0, total / n).otherwise(F.lit(0.0))
        scored = df.select(
            "*",
            n.alias("n_grams"),
            score.alias("score"),
        )
    else:
        import re

        import numpy as np
        from pyspark.sql.types import (
            DoubleType, LongType, StructField, StructType,
        )

        if len(weights) != buckets:
            raise ValueError(
                f"weights has {len(weights)} entries, expected {buckets}"
            )
        w = np.asarray(weights, dtype=np.float64)
        tok_re = re.compile(r"[^a-z0-9]+")

        out_schema = StructType([
            StructField("n_grams", LongType()),
            StructField("score", DoubleType()),
        ])

        @F.pandas_udf(out_schema)
        def _score(texts: pd.Series) -> pd.DataFrame:
            import hashlib

            n_out = np.zeros(len(texts), dtype=np.int64)
            s_out = np.zeros(len(texts), dtype=np.float64)
            for i, text in enumerate(texts):
                toks = [t for t in tok_re.split((text or "").lower()) if t]
                grams = toks + [
                    f"{a}_{b}" for a, b in zip(toks, toks[1:])
                ]
                n_out[i] = len(grams)
                acc = 0.0
                for g in grams:
                    h = int(
                        hashlib.md5(g.encode()).hexdigest()[:15], 16
                    )
                    acc += w[h % buckets]
                s_out[i] = acc / len(grams) if grams else 0.0
            return pd.DataFrame({"n_grams": n_out, "score": s_out})

        scored = df.withColumn("_s", _score(F.col("text"))).select(
            "*", "_s.n_grams", "_s.score"
        ).drop("_s")

    return scored.select(
        "*", (F.col("score") > F.lit(threshold)).alias("keep")
    )
