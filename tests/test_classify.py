"""Hashed linear classifier (operators/classify.py): JVM-expression path
vs broadcast-weights pandas-UDF path, plan shape, and edge cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.classify import classifier_score
from testkit import pseudo_weights_array

BUCKETS = 256  # small enough to fill the numpy mirror quickly


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestClassifierScore:
    def test_jvm_and_udf_paths_agree_bitwise(self, spark):
        docs = _docs(spark, [
            "The quick brown fox jumps over the lazy dog",
            "spam spam SPAM buy now!!! cheap cheap",
            "a",
            "",
            None,
            "Unicode métier — café; naïve?  42 times",
        ])
        jvm = {
            r["doc_id"]: r
            for r in classifier_score(docs, buckets=BUCKETS).collect()
        }
        udf = {
            r["doc_id"]: r
            for r in classifier_score(
                docs, weights=pseudo_weights_array(BUCKETS), buckets=BUCKETS
            ).collect()
        }
        assert set(jvm) == set(udf)
        for k in jvm:
            assert jvm[k]["n_grams"] == udf[k]["n_grams"]
            # identical tokenizer + hash + left-fold order → identical bits
            assert jvm[k]["score"] == udf[k]["score"], k
            assert jvm[k]["keep"] == udf[k]["keep"]

    def test_gram_count_and_empty_doc(self, spark):
        docs = _docs(spark, ["one two three", "", "   ", None])
        rows = {
            r["doc_id"]: r
            for r in classifier_score(docs, buckets=BUCKETS).collect()
        }
        # 3 unigrams + 2 bigrams
        assert rows[0]["n_grams"] == 5
        for k in (1, 2, 3):  # empty, whitespace, NULL all score alike
            assert rows[k]["n_grams"] == 0
            assert rows[k]["score"] == 0.0
            assert rows[k]["keep"] is False

    def test_score_is_mean_of_gram_weights(self, spark):
        import hashlib

        w = pseudo_weights_array(BUCKETS)
        text = "alpha beta"
        grams = ["alpha", "beta", "alpha_beta"]
        acc = 0.0
        for g in grams:
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            acc += w[h % BUCKETS]
        want = acc / len(grams)
        got = classifier_score(
            _docs(spark, [text]), buckets=BUCKETS
        ).collect()[0]
        assert got["score"] == pytest.approx(want, abs=0.0)
        assert got["keep"] == (want > 0.0)

    def test_jvm_plan_is_exchange_free(self, spark):
        docs = _docs(spark, ["x y z"])
        plan = (
            classifier_score(docs, buckets=BUCKETS)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time python

    def test_threshold_moves_keep(self, spark):
        docs = _docs(spark, ["hello world"])
        lo = classifier_score(docs, buckets=BUCKETS, threshold=-2.0)
        hi = classifier_score(docs, buckets=BUCKETS, threshold=2.0)
        assert lo.collect()[0]["keep"] is True
        assert hi.collect()[0]["keep"] is False

    def test_weight_length_validated(self, spark):
        docs = _docs(spark, ["x"])
        with pytest.raises(ValueError, match="expected"):
            classifier_score(
                docs, weights=pseudo_weights_array(64), buckets=BUCKETS
            )
