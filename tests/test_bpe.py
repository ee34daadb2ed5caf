"""Merge-table BPE: the JVM replace-chain encoder must be byte-identical
to an independent greedy Python encoder, the DuckDB oracle expression must
match both, and training must be deterministic."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logpipe_spark.functions.bpe import (
    SYM,
    WORD,
    bpe_token_count,
    bpe_token_count_sql,
    corpus_word_counts,
    encode_bpe_col,
    train_bpe_merges,
)
from logpipe_spark.functions.bpe_merges import DEFAULT_MERGES
from testkit import encode_bpe_py


def test_train_hand_corpus_classic_example():
    # the canonical Sennrich walk-through: low/lower/newest/widest
    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe_merges(wc, 4)
    # (e,s) appears 9x (newest+widest), then (es,t) 9x, then (est ...)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert len(merges) == 4
    # determinism
    assert merges == train_bpe_merges(dict(reversed(wc.items())), 4)


def test_train_tie_break_is_lexicographic():
    wc = {"ab": 3, "cd": 3}
    merges = train_bpe_merges(wc, 1)
    assert merges == [("a", "b")]


def test_python_encoder_run_semantics():
    merges = [("a", "a")]
    assert encode_bpe_py("aaaa", merges) == ["aa", "aa"]
    assert encode_bpe_py("aaa", merges) == ["aa", "a"]
    assert encode_bpe_py("aaaaa", merges) == ["aa", "aa", "a"]


@pytest.mark.parametrize(
    "text",
    [
        "aaaa aaa b",
        "the theme thesis",
        "low lower newest widest",
        "",
        "   ",
        "x",
        "punct, punct. (punct)",
    ],
)
def test_replace_chain_matches_python_encoder(spark, text):  # noqa: F811
    """The core exactness claim: trailing-delimiter replace-all == greedy
    left-to-right BPE, merge by merge, including identical-symbol runs."""
    for merges in ([("a", "a")], [("t", "h"), ("th", "e")], DEFAULT_MERGES):
        want = encode_bpe_py(text, merges)
        df = spark.createDataFrame(pd.DataFrame({"text": [text]}))
        row = df.select(
            encode_bpe_col(F.col("text"), merges).alias("enc"),
            bpe_token_count(F.col("text"), merges).alias("n"),
        ).first()
        got = [t for w in row["enc"].split(WORD) for t in w.split(SYM) if t]
        assert got == want, (text, merges)
        assert row["n"] == len(want)


def test_spark_duckdb_python_three_way_on_fixture(spark):  # noqa: F811
    """All three implementations agree per-doc on real fixture text with
    the frozen 64-merge table."""
    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", bpe_token_count(F.col("text"), DEFAULT_MERGES).alias("n")
        ).collect()
    }
    expr = bpe_token_count_sql("text", DEFAULT_MERGES)
    oracle = dict(
        duckdb.sql(
            f"SELECT doc_id, {expr} AS n FROM '{path}'"
        ).fetchall()
    )
    assert got == oracle
    pdf = pd.read_parquet(path)
    for doc_id, text in zip(pdf["doc_id"].head(50), pdf["text"].head(50)):
        assert got[doc_id] == len(encode_bpe_py(text, DEFAULT_MERGES))


def test_corpus_word_counts_distributed_matches_pandas(spark):  # noqa: F811
    path = "/root/testdata/sf0.001/documents.parquet"
    wc = corpus_word_counts(spark.read.parquet(path), top_k=100)
    pdf = pd.read_parquet(path)
    exact = pd.Series(
        [w for t in pdf["text"] for w in t.split()]
    ).value_counts()
    for w, n in wc.items():
        assert exact[w] == n
    assert len(wc) == min(100, len(exact))


def test_sequence_pack_takes_bpe_token_counts(spark):  # noqa: F811
    """Budgets in tokenizer tokens: every bin's BPE-token total stays
    within budget (single-doc overflow bins excepted), and counts equal
    the BPE column, not the whitespace one."""
    from logpipe_spark.operators.corpus import sequence_pack

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budget = 256
    out = sequence_pack(
        docs,
        budget=budget,
        n_shards=4,
        token_count_col=bpe_token_count(F.col("text"), DEFAULT_MERGES),
    ).toPandas()
    want = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", bpe_token_count(F.col("text"), DEFAULT_MERGES).alias("n")
        ).collect()
    }
    assert {int(k): int(v) for k, v in zip(out["doc_id"], out["n_tokens"])} == want
    fills = out.groupby("pack_id").agg(tot=("n_tokens", "sum"), n=("doc_id", "count"))
    over = fills[fills["tot"] > budget]
    assert (over["n"] == 1).all()  # only single-doc overflow bins exceed
    # multi-doc bins exist (the packer genuinely packs)
    assert (fills["n"] > 1).any()


def test_plan_is_pure_codegen(spark):  # noqa: F811
    """The encoder must stay JVM-side: no BatchEvalPython / ArrowEval in
    the plan — it is a single codegen'd projection."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        docs.select(bpe_token_count(F.col("text"), DEFAULT_MERGES).alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan
    # `*(n)` is the whole-stage-codegen marker in executedPlan().toString()
    assert plan.lstrip().startswith("*(")
