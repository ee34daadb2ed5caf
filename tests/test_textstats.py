"""Text-analysis operator behavior on crafted inputs."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.textstats import (
    bpe_ish_token_count,
    lang_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def samples(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog of the north"),          # en
        (1, "el perro que corre por la calle y el gato"),                  # es
        (2, "der hund und die katze ist hier"),                           # de
        (3, "le chat et le chien est petit"),                             # fr
        (4, "这 是 一个 测试 的 句子 了"),                                    # zh
        (5, "xyzzy plugh"),                                               # und
        (6, "!!! ??? ;;; ###"),                                           # punct junk
        (7, "the " + "spark shuffle partition " * 10),                    # long quality en
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).cache()


def test_lang_id(samples):
    got = {
        r["doc_id"]: r["lang"]
        for r in samples.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()
    }
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "zh"
    assert got[5] == "und"


def test_token_count(samples):
    got = {
        r["doc_id"]: r["n"]
        for r in samples.select("doc_id", token_count(F.col("text")).alias("n")).collect()
    }
    assert got[0] == 11
    assert got[5] == 2


def test_quality_score_ordering(samples):
    got = {
        r["doc_id"]: r["q"]
        for r in samples.select("doc_id", quality_score(F.col("text")).alias("q")).collect()
    }
    assert got[7] == 100          # long, clean, stopworded English
    assert got[6] < 50            # punct junk
    assert got[7] > got[5]


def test_bpe_ish_counts_exceed_words(samples):
    rows = samples.select(
        token_count(F.col("text")).alias("w"),
        bpe_ish_token_count(F.col("text")).alias("b"),
    ).collect()
    for r in rows:
        assert r["b"] >= r["w"]


def test_repetition_stats_hand_values(spark):
    """Known 2-gram structure: 'a b a b a b' has grams [a b, b a, a b,
    b a, a b] → n=5, distinct=2, top=3. Short and empty docs → zeros."""
    from logpipe_spark.operators.textstats import repetition_stats

    rows = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "a b a b a b",
            "all words here are unique tokens",
            "one",      # < 2 tokens
            "  ",       # no tokens at all
        ],
    })
    out = {r["doc_id"]: r.asDict()
           for r in repetition_stats(spark.createDataFrame(rows)).collect()}
    assert out[0] == {"doc_id": 0, "n_grams": 5, "n_distinct": 2, "top_count": 3}
    assert out[1]["n_grams"] == 5 and out[1]["n_distinct"] == 5
    assert out[1]["top_count"] == 1
    assert out[2] == {"doc_id": 2, "n_grams": 0, "n_distinct": 0, "top_count": 0}
    assert out[3] == {"doc_id": 3, "n_grams": 0, "n_distinct": 0, "top_count": 0}


def test_repetition_stats_zero_shuffle(spark):
    """Per-row property → the plan must contain no Exchange at all."""
    from logpipe_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

def test_unigram_logprob_matches_hand_computation(spark):
    """Score equals the hand-built unigram LM: ln(c/N) for vocab tokens,
    ln(1/N) for OOV, averaged per doc; counts trained on the whole
    corpus; vocab cut by (count desc, token asc)."""
    import math

    from logpipe_spark.operators.textstats import unigram_logprob

    rows = [
        (0, "a a a b"),
        (1, "a b c"),
        (2, "rare rare"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # corpus counts: a=4, b=2, rare=2, c=1; N=9; vocab_size=2 keeps
    # a(4) and b(2) -- 'rare' loses the tie to b? no: b=2, rare=2 tie ->
    # lexical asc keeps 'b'; 'rare' and 'c' are OOV (count as 1)
    n = 9.0
    lp = {"a": math.log(4) - math.log(n), "b": math.log(2) - math.log(n)}
    oov = -math.log(n)
    exp = {
        0: round((3 * lp["a"] + lp["b"]) / 4, 4),
        1: round((lp["a"] + lp["b"] + oov) / 3, 4),
        2: round(2 * oov / 2, 4),
    }
    got = {r["doc_id"]: r for r in unigram_logprob(docs, vocab_size=2).collect()}
    for d, s in exp.items():
        assert got[d]["avg_logprob"] == pytest.approx(s, abs=0.0), d
    assert got[0]["n_oov"] == 0
    assert got[1]["n_oov"] == 1
    assert got[2]["n_oov"] == 2
    # empty doc: zero tokens, NULL score, still a row
    assert got[3]["n_tokens"] == 0 and got[3]["avg_logprob"] is None


def test_unigram_logprob_is_scale_free_annotation(spark):
    """Every input doc keeps exactly one output row and n_tokens matches
    the tokenizer the rest of the package uses."""
    from logpipe_spark.operators.textstats import token_count, unigram_logprob

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = unigram_logprob(docs, vocab_size=8)
    assert got.count() == docs.count()
    joined = got.join(
        docs.select("doc_id", token_count(F.col("text")).alias("tc")),
        "doc_id",
    )
    assert joined.filter(F.col("n_tokens") != F.col("tc")).count() == 0
    # vocab_size=8 of 31 token types -> OOV must actually occur
    assert joined.filter(F.col("n_oov") > 0).count() > 0


def test_unigram_logprob_vocab_cap(spark):
    import pytest

    from logpipe_spark.operators.textstats import (
        MAX_UNIGRAM_VOCAB,
        unigram_logprob,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="MAX_UNIGRAM_VOCAB"):
        unigram_logprob(docs, vocab_size=MAX_UNIGRAM_VOCAB + 1)


def test_dsir_scores_match_python_model(spark):
    """Score equals a pure-Python recomputation of the hashed-n-gram
    likelihood-ratio model, and target-like docs outscore unlike ones."""
    import hashlib
    import math

    from logpipe_spark.operators.textstats import dsir_scores

    target_rows = [(100, "the cat sat on the mat"),
                   (101, "a cat and a mat")]
    raw_rows = [(0, "the cat sat on the mat"),     # target-like
                (1, "stock market index futures"),  # unlike
                (2, "cat mat"),
                (3, "")]
    target = spark.createDataFrame(target_rows, ["doc_id", "text"])
    docs = spark.createDataFrame(raw_rows, ["doc_id", "text"])
    B = 64

    def grams(text):
        t = [w for w in text.lower().split(" ") if w]
        return t + [" ".join(t[i:i + 2]) for i in range(len(t) - 1)]

    def bucket(g):
        return int(hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:15], 16) % B

    def counts(rows):
        c = {}
        for _, text in rows:
            for g in grams(text):
                b = bucket(g)
                c[b] = c.get(b, 0) + 1
        return c

    t_c, r_c = counts(target_rows), counts(raw_rows)
    lt = math.log(sum(t_c.values()) + B)
    lr = math.log(sum(r_c.values()) + B)

    def expect(text):
        s = 0.0
        for g in grams(text):
            b = bucket(g)
            s += (math.log(t_c.get(b, 0) + 1) - lt) - (
                math.log(r_c.get(b, 0) + 1) - lr
            )
        return round(s, 4), len(grams(text))

    got = {r["doc_id"]: r for r in dsir_scores(docs, target, buckets=B).collect()}
    for doc_id, text in raw_rows:
        es, en = expect(text)
        assert got[doc_id]["n_grams"] == en
        assert abs(got[doc_id]["dsir_score"] - es) < 1e-9, (doc_id, es)
    assert got[0]["dsir_score"] > got[1]["dsir_score"]
    assert got[3]["dsir_score"] == 0.0 and got[3]["n_grams"] == 0


def test_dsir_scores_bucket_cap(spark):
    import pytest as _pytest

    from logpipe_spark.operators.textstats import dsir_scores

    docs = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        dsir_scores(docs, docs, buckets=100_000)


class TestDistributionShift:
    def _df(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_identical_corpora_have_zero_divergence(self, spark):
        from logpipe_spark.operators.textstats import distribution_shift

        docs = self._df(spark, ["alpha beta gamma", "beta beta delta"])
        r = distribution_shift(docs, docs).collect()[0]
        assert (r["kl_pq"], r["kl_qp"], r["js"]) == (0.0, 0.0, 0.0)
        assert r["n_p"] == r["n_q"] == 6
        assert r["vocab"] == 4

    def test_matches_python_mirror(self, spark):
        import math

        from logpipe_spark.operators.textstats import distribution_shift

        p_texts = ["cat dog cat", "dog fish"]
        q_texts = ["cat bird bird bird", "bird"]
        r = distribution_shift(
            self._df(spark, p_texts), self._df(spark, q_texts)
        ).collect()[0]

        def counts(ts):
            c = {}
            for t in ts:
                for w in t.lower().split():
                    c[w] = c.get(w, 0) + 1
            return c

        cp, cq = counts(p_texts), counts(q_texts)
        vocab = sorted(set(cp) | set(cq))
        n_p, n_q, v = sum(cp.values()), sum(cq.values()), len(vocab)
        kl_pq = kl_qp = js = 0.0
        for w in vocab:
            pt = (cp.get(w, 0) + 1) / (n_p + v)
            qt = (cq.get(w, 0) + 1) / (n_q + v)
            mt = (pt + qt) / 2
            kl_pq += pt * math.log(pt / qt)
            kl_qp += qt * math.log(qt / pt)
            js += pt * math.log(pt / mt) / 2 + qt * math.log(qt / mt) / 2
        assert (r["n_p"], r["n_q"], r["vocab"]) == (n_p, n_q, v)
        assert r["kl_pq"] == round(kl_pq, 6)
        assert r["kl_qp"] == round(kl_qp, 6)
        assert r["js"] == round(js, 6)
        # JS is symmetric, bounded by ln 2, and positive under shift
        assert 0 < r["js"] < math.log(2)
        assert r["kl_pq"] > 0 and r["kl_qp"] > 0


class TestCollocations:
    def test_pmi_ranks_glued_pairs_first(self, spark):
        import math

        from logpipe_spark.operators.textstats import collocations

        # "san francisco" always adjacent; "the" spreads across four
        # partners and "cat" also follows "big" → both slot counts of
        # "the cat" exceed its pair count → lower PMI than the glued pair
        docs = spark.createDataFrame(
            [(i, "san francisco the " + w) for i, w in enumerate(
                ["cat", "dog", "sun", "car", "cat", "dog"])]
            + [(10, "big cat"), (11, "big cat")],
            "doc_id long, text string",
        )
        rows = collocations(docs, top_k=10, min_count=2).collect()
        got = {r["bigram"]: r for r in rows}
        # N=20 pairs; san→6 as w1, francisco→6 as w2
        assert got["san francisco"]["c_ab"] == 6
        assert got["san francisco"]["pmi"] == round(
            math.log(6 * 20 / (6 * 6)), 6
        )
        # the→6 as w1, cat→4 as w2, pair only 2× → diluted
        assert got["the cat"]["c_ab"] == 2
        assert got["the cat"]["pmi"] == round(
            math.log(2 * 20 / (6 * 4)), 6
        )
        assert got["san francisco"]["pmi"] > got["the cat"]["pmi"]
        # rows arrive (pmi DESC, bigram ASC)
        pmis = [r["pmi"] for r in rows]
        assert pmis == sorted(pmis, reverse=True)

    def test_min_count_drops_rare_pairs(self, spark):
        from logpipe_spark.operators.textstats import collocations

        docs = spark.createDataFrame(
            [(0, "rare pair common duo common duo common duo")],
            "doc_id long, text string",
        )
        got = {r["bigram"] for r in
               collocations(docs, top_k=10, min_count=3).collect()}
        assert "rare pair" not in got and "common duo" in got
