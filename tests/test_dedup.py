"""Dedup operator properties on crafted corpora (numpy oracle where cheap)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_stats,
    hamming64,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the old river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the old river bank"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the old river bend"),  # near dup of 0
        (3, "completely different text about spark shuffle partitions and joins here"),
        (4, "another unrelated document that talks about parquet files and pruning"),
        (5, "the quick brown fox jumps over the lazy dog near the old river bank today"),  # near dup
        (6, "word " * 20),
        (7, "word " * 20),  # exact dup of 6
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).cache()


def test_exact_dedup_stats(docs):
    row = exact_dedup_stats(docs).collect()[0]
    assert row["n_docs"] == 8
    assert row["n_unique"] == 6
    assert row["n_dup_rows"] == 2


def test_exact_dedup_keeps_lowest_key(docs):
    kept = {r["doc_id"] for r in exact_dedup(docs).select("doc_id").collect()}
    assert kept == {0, 2, 3, 4, 5, 6}


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # exact dup → jaccard 1.0
    assert (0, 2) in pairs  # one-word edit
    assert (6, 7) in pairs
    assert (3, 4) not in pairs


def test_containment_orients_small_inside_big(spark):
    from logpipe_spark.operators.dedup import containment_pairs

    small = "alpha beta gamma delta epsilon zeta eta theta"
    big = "prefix words here " + small + " plus a long unrelated tail " + (
        "filler tokens repeated differently %d " % 7
    ) * 5
    rows = [
        (10, small),                       # fully inside 20
        (20, big),
        (30, "nothing in common with anything else at all whatsoever"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(df, n=3, threshold=0.9).collect()
    }
    # contained doc is always doc_a, containment exact 1.0, and the
    # low-Jaccard big/small pair IS found (the case Jaccard-0.8 misses)
    assert out == {(10, 20): 1.0}


def test_containment_tie_keeps_lower_key_as_container(spark):
    from logpipe_spark.operators.dedup import containment_pairs

    t = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        pd.DataFrame([(5, t), (9, t)], columns=["doc_id", "text"])
    )
    rows = containment_pairs(df, n=3, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    # equal shingle sets: sz_a == sz_b → the otherwise-branch makes the
    # lower key (da) the container, the higher key the contained side
    assert (r["doc_a"], r["doc_b"], r["containment"]) == (9, 5, 1.0)


def test_minhash_lsh_candidates_superset_of_true_dups(docs):
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, num_hashes=32, bands=8).collect()
    }
    # exact duplicates MUST collide in every band
    assert (0, 1) in cand
    assert (6, 7) in cand
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, num_hashes=32, bands=8).collect()
    }
    assert est[(0, 1)] == 1.0


def test_simhash_properties(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_buckets(docs).collect()}
    assert sh[0] == sh[1]  # identical text → identical sketch
    assert sh[6] == sh[7]
    # near-dup hamming distance is small; unrelated is larger
    df = simhash_buckets(docs)
    a = df.filter(F.col("doc_id") == 0).select(F.col("simhash").alias("a"))
    for other, bound, cmp in [(2, 12, "le"), (3, 10, "gt")]:
        b = df.filter(F.col("doc_id") == other).select(F.col("simhash").alias("b"))
        d = a.crossJoin(b).select(hamming64(F.col("a"), F.col("b")).alias("d")).collect()[0]["d"]
        if cmp == "le":
            assert d <= bound, f"near-dup hamming {d} too large"
        else:
            assert d > bound, f"unrelated hamming {d} too small"


def test_deterministic_across_runs(docs):
    s1 = sorted(simhash_buckets(docs).collect())
    s2 = sorted(simhash_buckets(docs).collect())
    assert s1 == s2
    m1 = sorted(minhash_lsh_pairs(docs).collect())
    m2 = sorted(minhash_lsh_pairs(docs).collect())
    assert m1 == m2


def test_minhash_lsh_short_docs_never_pair(spark):
    """Docs with < n tokens all carry the identity signature — they must
    NOT band-collide into fabricated est_jaccard=1.0 pairs (and must not
    form one hot shuffle key)."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": range(8),
            "text": ["hi", "ok", "no", "yes sir", "",  # all < 3 tokens
                     "the quick brown fox jumps over the lazy dog",
                     "the quick brown fox jumps over the lazy dog",
                     "completely different content about spark shuffles here"],
        })
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, num_hashes=32, bands=8).collect()
    }
    assert pairs == {(5, 6)}  # only the true exact dup pair


def test_simhash_batch_bitexact_vs_scalar():
    """The numpy batch kernel must agree bit-for-bit with the scalar
    reference form — incl. NULLs, empties, unicode, and tie votes."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from logpipe_spark.operators.dedup import _simhash64, _simhash_batch

    fixed = [
        None,
        "",
        "   ",
        "one",
        "one one one",
        "the quick brown fox jumps over the lazy dog",
        "naïve café résumé 中文 日本語 🚀",
        "a b",  # 2 tokens → guaranteed tie votes on disagreeing bits
        "x " * 500,
    ]
    got = _simhash_batch(pd.Series(fixed, dtype=object))
    for i, t in enumerate(fixed):
        if t is None:
            assert got[i] is pd.NA or pd.isna(got[i])
        else:
            want = _simhash64([w for w in t.lower().split(" ") if w])
            assert int(got[i]) == want, f"mismatch on {t!r}"

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=20), max_size=8))
    def prop(texts):
        s = pd.Series([t for t in texts], dtype=object)
        out = _simhash_batch(s)
        for i, t in enumerate(texts):
            want = _simhash64([w for w in t.lower().split(" ") if w])
            assert int(out[i]) == want

    prop()


class TestDupSpanStats:
    def test_planted_shared_span(self, spark):
        from logpipe_spark.operators.dedup import dup_span_stats

        shared = "one two three four five six seven eight"
        docs = spark.createDataFrame(
            [
                (1, shared + " tail1 tail2"),          # 3 span positions
                (2, "head0 " + shared),                # 2 span positions
                (3, "all unique words here nothing repeats at all ever"),
                (4, "short doc"),                      # < 8 tokens: 0 spans
            ],
            ["doc_id", "text"],
        )
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
            for r in dup_span_stats(docs, n=8, min_docs=2).collect()
        }
        # only the 8-gram "one..eight" itself is shared (the shifted spans
        # differ by the tail/head words)
        assert got[1] == (3, 1)
        assert got[2] == (2, 1)
        assert got[3] == (2, 0)
        assert got[4] == (0, 0)

    def test_multiplicity_counted_per_position(self, spark):
        from logpipe_spark.operators.dedup import dup_span_stats

        rep = "a b c d e f g h"
        docs = spark.createDataFrame(
            [(1, rep + " " + rep), (2, rep)], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
            for r in dup_span_stats(docs, n=8, min_docs=2).collect()
        }
        # doc 1 has 9 positions; every span of doc 1 also occurs in doc 2?
        # no — only the pure repeats of "a..h" (positions 1 and 9) match
        # doc 2's single span; the 7 straddling spans exist only in doc 1
        # (multiplicity within one doc does NOT count toward min_docs).
        assert got[1] == (9, 2)
        assert got[2] == (1, 1)

    def test_no_cartesian_in_plan(self, spark):
        from logpipe_spark.operators.dedup import dup_span_stats

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            dup_span_stats(docs)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_remove_dup_spans_hand_values(spark):
    from logpipe_spark.operators.dedup import remove_dup_spans

    docs2 = spark.createDataFrame(
        [
            (1, "a b c d e f g h unique one"),
            (2, "x a b c d e f g h y"),
            (3, "totally different words here only"),
            (4, "short doc"),
            (5, "a b c d e f g h"),  # nothing but the shared span
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in remove_dup_spans(docs2, n=8, min_docs=2).collect()
    }
    # the 8-gram "a b c d e f g h" appears in docs 1, 2, 5 -> every token
    # position it covers is dropped; everything else survives in order
    assert got[1] == ("unique one", 2)
    assert got[2] == ("x y", 2)
    assert got[3] == ("totally different words here only", 5)
    assert got[4] == ("short doc", 2)  # shorter than n: no spans, untouched
    assert got[5] == ("", 0)  # fully duplicated -> empty rewrite
    assert got[6] == ("", 0)  # null text stays a corpus row


def test_remove_dup_spans_consistent_with_stats(spark, docs):
    """Removal and measurement must agree: a doc loses tokens iff its
    dup_span_stats count is nonzero, and never gains any."""
    from logpipe_spark.operators.dedup import dup_span_stats, remove_dup_spans

    stats = {
        r["doc_id"]: r["n_dup_spans"]
        for r in dup_span_stats(docs, n=8, min_docs=2).collect()
    }
    toks = {
        r["doc_id"]: r["nt"]
        for r in docs.select(
            "doc_id",
            F.size(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))
            ).alias("nt"),
        ).collect()
    }
    for r in remove_dup_spans(docs, n=8, min_docs=2).collect():
        d = r["doc_id"]
        assert r["n_kept"] <= toks[d]
        if stats[d] == 0:
            assert r["n_kept"] == toks[d]
        else:
            assert r["n_kept"] < toks[d]

def test_dedup_lines_removes_cross_doc_boilerplate_in_order(spark):
    """C4 line rule: trimmed non-blank lines in >=2 distinct docs vanish
    from every doc; unique lines survive in original order; blank lines
    are kept; within-doc repetition alone never triggers removal; a
    fully-boilerplate doc keeps its row with clean_text=''."""
    from logpipe_spark.operators.dedup import dedup_lines

    rows = [
        (0, "COOKIE BANNER\nalpha unique\n\nbeta unique\nEND"),
        (1, "COOKIE BANNER\ngamma unique\nEND"),
        # within-doc repeated line, but only this doc has it
        (2, "delta repeated\ndelta repeated\nepsilon unique"),
        # fully boilerplate
        (3, "COOKIE BANNER\nEND"),
        #   ' END ' trims equal to 'END' -> removed too
        (4, "zeta unique\n END "),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    assert len(got) == 5
    assert got[0]["clean_text"] == "alpha unique\n\nbeta unique"
    assert (got[0]["n_lines"], got[0]["n_kept"]) == (5, 3)
    assert got[1]["clean_text"] == "gamma unique"
    assert got[2]["clean_text"] == "delta repeated\ndelta repeated\nepsilon unique"
    assert got[3]["clean_text"] == ""
    assert (got[3]["n_lines"], got[3]["n_kept"]) == (2, 0)
    assert got[4]["clean_text"] == "zeta unique"


def test_dedup_lines_threshold_and_single_line_docs(spark):
    """min_docs=3 spares a 2-doc line; docs without the delimiter pass
    through untouched unless their whole text is shared boilerplate."""
    from logpipe_spark.operators.dedup import dedup_lines

    rows = [
        (0, "shared twice\nown line zero"),
        (1, "shared twice\nown line one"),
        (2, "solo text"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got3 = {r["doc_id"]: r["clean_text"]
            for r in dedup_lines(docs, min_docs=3).collect()}
    assert got3[0] == "shared twice\nown line zero"  # df=2 < 3 -> kept
    got2 = {r["doc_id"]: r["clean_text"]
            for r in dedup_lines(docs, min_docs=2).collect()}
    assert got2[0] == "own line zero"
    assert got2[2] == "solo text"


def test_neardup_keep_best_hand_graph(spark):
    """Clusters {1,2,3} (chain), {5,6} (tie on quality), singleton 4.
    Winner = highest quality, then lowest id; singletons keep themselves."""
    from logpipe_spark.operators.dedup import neardup_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (4, 5), (5, 7), (6, 7)],
        ["doc_id", "n_chars"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r for r in neardup_keep_best(docs, pairs).collect()}
    assert len(got) == 6
    assert {d for d, r in got.items() if r["keep"]} == {2, 4, 5}
    assert got[1]["component"] == got[2]["component"] == got[3]["component"] == 1
    assert got[4]["component"] == 4 and got[4]["keep"]
    assert got[5]["component"] == got[6]["component"] == 5


def test_neardup_keep_best_empty_pairs_and_repartition(spark):
    """No pairs -> every doc is a kept singleton; result is partition-
    layout invariant (pure hash/agg logic, no zipWithIndex anywhere)."""
    from logpipe_spark.operators.dedup import neardup_keep_best

    docs = spark.createDataFrame(
        [(i, i * 3 % 7) for i in range(20)], ["doc_id", "n_chars"]
    )
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = neardup_keep_best(docs, empty).collect()
    assert all(r["keep"] and r["component"] == r["doc_id"] for r in out)
    assert len(out) == 20

    pairs = spark.createDataFrame([(0, 10), (10, 15)], ["doc_a", "doc_b"])
    a = sorted(map(tuple, neardup_keep_best(docs, pairs).collect()))
    b = sorted(map(tuple,
                   neardup_keep_best(docs.repartition(13), pairs).collect()))
    assert a == b


def test_incremental_dedup_statuses_and_chaining(spark):
    """Batch doc duplicating an indexed fingerprint -> dup_in_index even
    if it also duplicates a batch-mate; batch-internal dup keeps the
    lowest key; chaining a second batch over the updated index matches a
    one-shot pass over the union."""
    from logpipe_spark.operators.dedup import incremental_dedup

    prior = spark.createDataFrame(
        [(100, "alpha beta gamma"), (101, "unrelated prior text")],
        ["doc_id", "text"],
    )
    # bootstrap index from the accepted corpus
    from logpipe_spark.operators.dedup import _tokens
    idx = prior.select(
        F.md5(F.array_join(F.array_sort(F.array_distinct(
            _tokens(F.col("text")))), " ")).alias("fingerprint")
    )
    batch = spark.createDataFrame(
        [
            (1, "gamma beta alpha"),      # bag-of-words dup of indexed 100
            (2, "alpha beta gamma"),      # same -> also dup_in_index
            (3, "brand new content one"),
            (4, "content one brand new"), # batch dup of 3 (reordered)
            (5, "wholly novel text"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"]
           for r in incremental_dedup(batch, idx).collect()}
    assert got == {1: "dup_in_index", 2: "dup_in_index",
                   3: "kept", 4: "dup_in_batch", 5: "kept"}

    # chain: admit kept fps, run a second batch against the grown index
    out1 = incremental_dedup(batch, idx)
    idx2 = idx.union(
        out1.filter(F.col("status") == "kept").select("fingerprint")
    )
    batch2 = spark.createDataFrame(
        [(10, "novel text wholly"), (11, "never seen before")],
        ["doc_id", "text"],
    )
    got2 = {r["doc_id"]: r["status"]
            for r in incremental_dedup(batch2, idx2).collect()}
    assert got2 == {10: "dup_in_index", 11: "kept"}


def test_incremental_dedup_empty_index(spark):
    """Empty index degrades to plain within-batch fingerprint dedup."""
    from logpipe_spark.operators.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "d e f")], ["doc_id", "text"]
    )
    idx = spark.createDataFrame([], "fingerprint string")
    got = {r["doc_id"]: r["status"]
           for r in incremental_dedup(batch, idx).collect()}
    assert got == {1: "kept", 2: "dup_in_batch", 3: "kept"}


def test_incremental_neardup_statuses_and_chain_parity(spark, docs):
    """Index collisions outrank batch collisions; short docs are kept;
    chaining (admit batch-1 keeps into the index, run batch 2) flags the
    same docs a full-corpus banded pair run pairs up."""
    from logpipe_spark.operators.dedup import (
        incremental_neardup,
        minhash_band_index,
        minhash_lsh_pairs,
    )

    prior = docs.filter(F.col("doc_id").isin([0, 3]))      # corpus: 0, 3
    batch = docs.filter(~F.col("doc_id").isin([0, 3]))     # 1,2,4,5,6,7
    idx = minhash_band_index(prior)
    got = {r["doc_id"]: r for r in incremental_neardup(batch, idx).collect()}
    assert len(got) == 6

    # full-corpus candidate pairs define the expected replay semantics
    pairs = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_pairs(docs).collect()}
    for d in got:
        partners_in_index = {a for (a, b) in pairs if b == d and a in (0, 3)} | {
            b for (a, b) in pairs if a == d and b in (0, 3)
        }
        if partners_in_index:
            assert got[d]["status"] == "neardup_index"
            assert got[d]["n_index_partners"] == len(partners_in_index)
    # 1 and 2 are near-dups of 0 (exact + one-word edit) -> index hits
    assert got[1]["status"] == "neardup_index"
    assert got[2]["status"] == "neardup_index"
    # 6/7 duplicate each other but nothing in the index -> star rule
    assert got[6]["status"] == "kept"
    assert got[7]["status"] == "neardup_batch"
    assert got[4]["status"] == "kept"

    # chain: admit kept docs, then a replay of doc 6's text must hit index
    kept = batch.join(
        spark.createDataFrame(
            [(d,) for d, r in got.items() if r["status"] == "kept"], ["doc_id"]
        ),
        "doc_id",
    )
    idx2 = idx.union(minhash_band_index(kept))
    b2 = spark.createDataFrame([(50, "word " * 20)], ["doc_id", "text"])
    got2 = incremental_neardup(b2, idx2).collect()[0]
    assert got2["status"] == "neardup_index"


def test_incremental_neardup_short_docs_kept(spark):
    from logpipe_spark.operators.dedup import incremental_neardup

    idx = spark.createDataFrame([], "doc_id long, band int, bucket string")
    batch = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, "one two three four five")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"]
           for r in incremental_neardup(batch, idx).collect()}
    assert got == {1: "kept", 2: "kept", 3: "kept"}


def test_fuzz_containment_vs_python_oracle(spark):
    """Seeded random mini-corpora through containment_pairs vs a pure
    python oracle (explicit shingle sets, same orientation + tie rule) —
    guards the size-orientation logic beyond the hand cases."""
    import random

    from logpipe_spark.operators.dedup import containment_pairs

    rng = random.Random(0xD0C5)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for doc_id in range(60):
        n = rng.randint(0, 14)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(text, n=3):
        t = [x for x in text.lower().split(" ") if x]
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    sets = {d: sh(x) for d, x in rows}
    want = {}
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            small, big = (a, b) if len(sets[a]) < len(sets[b]) else (b, a)
            c = inter / len(sets[small])
            if c >= 0.9:
                want[(small, big)] = (inter, c)

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["containment"])
        for r in containment_pairs(df, n=3, threshold=0.9).collect()
    }
    assert got == want


def test_dedup_lines_removes_boilerplate_keeps_blanks(spark):
    """Lines shared by >= min_docs documents are removed; blank lines are
    never counted as duplicates, so they stay."""
    from logpipe_spark.operators.dedup import dedup_lines

    rows = []
    for k in range(12):
        body = "\n".join(f"body {k} line {j}" for j in range(3))
        rows.append((k, f"BANNER {k % 3}\n\n{body}\nEND"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r[0]: r[1] for r in dedup_lines(df, min_docs=2).collect()}
    assert "BANNER" not in out[0] and "END" not in out[0]
    assert "\n\n" in out[0] or out[0].startswith("\n")


def _py_ngrams(text, n):
    """Python reference for _pos_spans: lowercase, split on single spaces,
    drop empty tokens, then every run of n consecutive tokens."""
    if text is None:
        return []
    toks = [t for t in text.lower().split(" ") if t]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


NGRAM_TEXTS = [
    "a b c a b c d",          # more than n, repeated shingles
    "  Lead  and   trail  ",  # runs of spaces, leading and trailing
    "x y",                    # fewer than n
    "one two three",          # exactly n
    "A a A a",                # case folds to repeats
    "",
    "   ",
    None,
]


@pytest.mark.parametrize("n", [1, 3])
def test_shingles_and_pos_spans_match_python_reference(spark, n):
    from logpipe_spark.operators.dedup import _pos_spans, _shingles

    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(NGRAM_TEXTS)), "text": NGRAM_TEXTS})
    )
    got = df.select(
        "i",
        _pos_spans(F.col("text"), n).alias("spans"),
        _shingles(F.col("text"), n).alias("shingles"),
    ).collect()
    for r in got:
        want = _py_ngrams(NGRAM_TEXTS[r["i"]], n)
        assert r["spans"] == want, NGRAM_TEXTS[r["i"]]
        assert r["shingles"] == list(dict.fromkeys(want)), NGRAM_TEXTS[r["i"]]


def test_ngram_expression_splits_each_document_once():
    """The token array is bound once per row; a lambda that re-named the
    split expression would print it once per use."""
    from logpipe_spark.operators.dedup import _pos_spans, _shingles

    for build in (_pos_spans, _shingles):
        assert str(build(F.col("text"), 3)).count("split(") == 1
