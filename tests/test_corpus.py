"""Corpus-management operators: deterministic splits, quality filter,
sequence packing, connected components."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logpipe_spark.operators import dedup
from logpipe_spark.operators.corpus import corpus_filter, hash_split, sequence_pack
from logpipe_spark.operators.dedup import connected_components_star
from testkit import count_jobs

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_hash_split_fractions_and_stability(spark, docs):
    split = hash_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    n = docs.count()
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / n - 0.9) < 0.05
    # THE property that matters: dropping other docs never moves a doc's
    # split (hash of stable key, not row position / corpus content)
    sub = hash_split(docs.filter(F.col("doc_id") % 3 == 0),
                     {"train": 0.9, "val": 0.05, "test": 0.05})
    full = {r["doc_id"]: r["split"] for r in split.collect()}
    for r in sub.select("doc_id", "split").collect():
        assert full[r["doc_id"]] == r["split"]
    # different salt → different (still deterministic) assignment
    other = hash_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="v2")
    moved = (
        split.select("doc_id", "split")
        .join(other.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
    )
    assert moved > 0


def test_hash_split_rejects_bad_fractions(docs):
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(docs, {"train": 0.5, "val": 0.1})


def test_corpus_filter_reasons(spark):
    pdf = pd.DataFrame({
        "doc_id": range(5),
        "text": [
            "short",                                    # too_short
            "x" * 1001,                                 # too_long (1 token, but length first)
            "one two three four five " * 20,            # kept
            "aa " * 60,                                 # kept (mean len ok)
            "!!! ### $$$ %%% ^^^ &&& *** ((( ))) ___ " * 5,  # low_alpha_ratio
        ],
    })
    out = corpus_filter(
        spark.createDataFrame(pdf),
        min_chars=20, max_chars=1000, min_tokens=5,
        min_mean_token_len=1.5, max_mean_token_len=12.0, min_alpha_ratio=0.5,
    ).orderBy("doc_id").collect()
    reasons = [r["drop_reason"] for r in out]
    keeps = [r["keep"] for r in out]
    assert reasons[0] == "too_short" and not keeps[0]
    assert reasons[1] == "too_long" and not keeps[1]
    assert reasons[2] is None and keeps[2]
    assert reasons[3] is None and keeps[3]
    assert reasons[4] == "low_alpha_ratio" and not keeps[4]


def test_sequence_pack_invariants(spark, docs):
    budget = 256
    packed = sequence_pack(docs, budget=budget, n_shards=4)
    rows = packed.collect()
    # every non-empty doc packed exactly once
    n_nonempty = docs.filter(
        F.size(F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))) >= 1
    ).count()
    assert len(rows) == n_nonempty
    assert len({r["doc_id"] for r in rows}) == len(rows)
    # bin budget: no pack exceeds the budget unless it is a single doc
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r["pack_id"], []).append(r["n_tokens"])
    for pack, toks in by_pack.items():
        if len(toks) > 1:
            assert sum(toks) <= budget, f"pack {pack} over budget: {toks}"
    # pack ids dense per shard (next-fit never skips a bin)
    for shard in {r["shard"] for r in rows}:
        seqs = sorted({r["pack_id"] - shard * (1 << 40) for r in rows
                       if r["shard"] == shard})
        assert seqs == list(range(len(seqs)))
    # determinism
    again = sequence_pack(docs, budget=budget, n_shards=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def _union_find_min_labels(pairs):
    """Reference labeling: union-find over the edge list, each node mapped
    to the minimum id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


_DEFAULT_DRIVER_CC_EDGES = dedup._DRIVER_CC_EDGES


def _on_each_cc_path(monkeypatch):
    """Run the loop body once per connected-components path: ``star``
    sets the driver threshold to 0, so every non-empty edge list goes
    through the star rounds; ``driver`` keeps the default, under which
    every graph in these tests is labeled by the driver's union-find."""
    for path, limit in (("star", 0), ("driver", _DEFAULT_DRIVER_CC_EDGES)):
        monkeypatch.setattr(dedup, "_DRIVER_CC_EDGES", limit)
        yield path


_HAND_GRAPH = pd.DataFrame({
    # chain 1-2-3-4, triangle 10-11-12, pair 20-21, bridge 4-10
    "doc_a": [1, 2, 3, 10, 11, 10, 20, 4],
    "doc_b": [2, 3, 4, 11, 12, 12, 21, 10],
})


def test_connected_components_star_matches_min_label(spark, monkeypatch):
    """Both paths — large-star/small-star (Kiveris et al., SoCC'14) and
    the driver's union-find — must produce the exact min-label labeling
    the reference union-find computes on a hand graph."""
    pdf = _HAND_GRAPH
    edges = spark.createDataFrame(pdf)
    want = _union_find_min_labels(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))
    for path in _on_each_cc_path(monkeypatch):
        out, rounds = connected_components_star(edges, return_rounds=True)
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == want == {
            1: 1, 2: 1, 3: 1, 4: 1, 10: 1, 11: 1, 12: 1, 20: 20, 21: 20}, path
        assert (rounds == 0) == (path == "driver"), (path, rounds)


def test_connected_components_star_deep_chain_bounded_rounds(spark, monkeypatch):
    """The deep-graph contract: a 2000-link chain (diameter 1999) is far
    beyond any sane min-label budget, yet star contraction must finish in
    O(log^2 n) alternations — assert a hard bound of 12 (log2(2000)≈11),
    and that labels are exact. This is the scale argument: rounds (and so
    shuffles) grow with log(diameter), not diameter. The driver path
    labels the same chain with no rounds at all."""
    n = 2000
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": range(n - 1), "doc_b": range(1, n)})
    )
    for path in _on_each_cc_path(monkeypatch):
        out, rounds = connected_components_star(edges, return_rounds=True)
        got = {r["node"]: r["component"] for r in out.collect()}
        if path == "star":
            assert 1 <= rounds <= 12, f"star contraction took {rounds} alternations"
        else:
            assert rounds == 0
        assert len(got) == n and set(got.values()) == {0}, path


def test_connected_components_star_raises_when_budget_too_small(spark, monkeypatch):
    """Truncated labels are wrong labels: a 2000-link chain cannot become
    a star forest in one alternation, so on the star path max_iter=1 must
    raise, never return an unconverged labeling (ADVICE r3). The driver
    path runs no alternations, so the budget does not bind there."""
    n = 2000
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": range(n - 1), "doc_b": range(1, n)})
    )
    for path in _on_each_cc_path(monkeypatch):
        if path == "star":
            with pytest.raises(RuntimeError, match="did not converge"):
                connected_components_star(edges, max_iter=1)
        else:
            out = connected_components_star(edges, max_iter=1)
            assert {r["component"] for r in out.collect()} == {0}
            assert out.count() == n


def test_connected_components_star_non_contiguous_ids_and_isolated_pairs(
    spark, monkeypatch
):
    """Component minima are ids, not ranks: sparse 64-bit-ish ids and many
    small components must label correctly in few rounds."""
    # 50 disjoint pairs with scattered ids, plus one 5-cycle
    a = [i * 1_000_003 + 7 for i in range(50)]
    b = [x + 13 for x in a]
    cyc_a = [900, 901, 902, 903, 904]
    cyc_b = [901, 902, 903, 904, 900]
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": a + cyc_a, "doc_b": b + cyc_b})
    )
    for path in _on_each_cc_path(monkeypatch):
        out, rounds = connected_components_star(edges, return_rounds=True)
        got = {r["node"]: r["component"] for r in out.collect()}
        assert rounds <= 6 if path == "star" else rounds == 0
        for x, y in zip(a, b):
            assert got[x] == got[y] == x, path
        assert {got[v] for v in cyc_a} == {900}, path


def test_connected_components_star_stars_and_triangles_one_round(
    spark, monkeypatch
):
    """Disjoint one-hop stars (centred on the minimum or not) and triangles
    are a star forest after a single alternation; the star-forest test
    stops there without a confirming round."""
    edges = spark.createDataFrame(
        pd.DataFrame({
            # star on 1; star on 15 whose leaves are all smaller; triangle
            "doc_a": [1, 1, 1, 15, 15, 15, 30, 31, 32],
            "doc_b": [2, 3, 4, 11, 12, 13, 31, 32, 30],
        })
    )
    for path in _on_each_cc_path(monkeypatch):
        out, rounds = connected_components_star(edges, return_rounds=True)
        got = {r["node"]: r["component"] for r in out.collect()}
        assert rounds == (1 if path == "star" else 0)
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 11: 11, 12: 11, 13: 11, 15: 11,
                       30: 30, 31: 30, 32: 30}, path
        assert out.count() == len(got), path


def test_connected_components_star_empty_edges(spark, monkeypatch):
    """No edges, no labels, same two columns. (An empty list is within
    every threshold, so both settings label it on the driver.)"""
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    for path in _on_each_cc_path(monkeypatch):
        out = connected_components_star(edges)
        assert out.columns == ["node", "component"], path
        assert out.collect() == [], path


def test_connected_components_string_ids_on_both_paths(spark, monkeypatch):
    """String ids keep their type on both paths and component = the
    lexicographic minimum (by code point, which is UTF-8 byte order)."""
    pairs = [("b", "c"), ("c", "a"), ("é", "Z"), ("z", "é"), ("m", "m"),
             ("q", "p"), ("p", "q")]
    edges = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    want = _union_find_min_labels(
        (a, b) for a, b in pairs if a != b
    )
    assert want["z"] == "Z" and want["b"] == "a"
    for path in _on_each_cc_path(monkeypatch):
        out = connected_components_star(edges)
        assert out.schema["node"].dataType == T.StringType(), path
        assert out.schema["component"].dataType == T.StringType(), path
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == want, path


def test_connected_components_driver_threshold_boundary(spark, monkeypatch):
    """The threshold counts canonical edges (self-loops dropped, each
    undirected edge once): exactly ``_DRIVER_CC_EDGES`` of them are
    labeled on the driver in 0 rounds, one more goes to the star rounds."""
    monkeypatch.setattr(dedup, "_DRIVER_CC_EDGES", 4)
    # chain 1-2-3-4-5 is 4 canonical edges; the reversed copy and the
    # self-loop add none
    at = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 3, 4, 2, 5], "doc_b": [2, 3, 4, 5, 1, 5]})
    )
    over = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 3, 4, 5], "doc_b": [2, 3, 4, 5, 6]})
    )
    out, rounds = connected_components_star(at, return_rounds=True)
    assert rounds == 0
    assert {r["node"]: r["component"] for r in out.collect()} == {
        v: 1 for v in range(1, 6)}
    out, rounds = connected_components_star(over, return_rounds=True)
    assert rounds >= 1
    assert {r["node"]: r["component"] for r in out.collect()} == {
        v: 1 for v in range(1, 7)}


def test_connected_components_driver_labels_skip_python_workers(spark):
    """The driver path hands its labels to the JVM through Arrow, so the
    label frame is a local relation: scanning it runs no Python worker
    (no ``PythonRDD`` in its RDD lineage, as a frame built from a Python
    list would have) and launches no job. The whole labeling of the hand
    graph takes a few jobs; the star rounds take dozens."""
    edges = spark.createDataFrame(_HAND_GRAPH)

    def label():
        out = connected_components_star(edges)
        return out, {r["node"]: r["component"] for r in out.collect()}

    (out, got), n_jobs = count_jobs(spark, label)
    assert got == _union_find_min_labels(
        zip(_HAND_GRAPH["doc_a"].tolist(), _HAND_GRAPH["doc_b"].tolist()))
    assert "PythonRDD" not in out._jdf.queryExecution().toRdd().toDebugString()
    assert n_jobs <= 3, n_jobs


def test_quota_sample_deterministic_and_both_branches(spark, docs):
    """Selection is a function of key sets only: invariant under
    repartitioning; groups under quota pass through whole, groups over it
    are trimmed to exactly quota."""
    from logpipe_spark.operators.corpus import quota_sample

    before = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = quota_sample(docs, group_col="lang", quota=100)
    after = {r["lang"]: r["n"] for r in
             got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert any(n > 100 for n in before.values())  # fixture exercises trim
    assert any(n < 100 for n in before.values())  # ... and pass-through
    for lang, n in before.items():
        assert after[lang] == min(n, 100)
    ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    ids_repart = sorted(
        r["doc_id"]
        for r in quota_sample(docs.repartition(13), group_col="lang",
                              quota=100).select("doc_id").collect()
    )
    assert ids == ids_repart


def test_decontaminate_flags_planted_dup_and_excludes_eval(spark):
    """A corpus doc that copies an 8-gram window from an eval doc is
    flagged; unrelated docs are not; eval docs never appear in the
    output; shingle-less (short) docs survive with zeros."""
    from logpipe_spark.operators.corpus import decontaminate

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            eval_text,                                    # the eval doc
            "intro words " + eval_text + " trailing words",  # contaminated copy
            "totally different content about other things entirely here now",
            "tiny",                                       # < 8 tokens → zeros
        ],
    })
    docs = spark.createDataFrame(rows)
    ev = docs.filter(F.col("doc_id") == 0)
    out = {r["doc_id"]: r
           for r in decontaminate(docs, ev, n=8, min_overlap=3).collect()}
    assert set(out) == {1, 2, 3}          # eval doc excluded
    assert out[1]["contaminated"] and out[1]["n_overlap"] >= 3
    assert not out[2]["contaminated"] and out[2]["n_overlap"] == 0
    assert (out[3]["n_shingles"], out[3]["n_overlap"],
            out[3]["contaminated"]) == (0, 0, False)


def test_decontaminate_flags_null_keyed_copy(spark):
    """Rows are counted per ``doc_id`` with NULL as one key: a NULL-keyed
    copy of eval text comes back contaminated (with every other
    NULL-keyed row, which shares its pooled counts), never as a clean
    row that a ``filter(~contaminated)`` would keep."""
    from logpipe_spark.operators.corpus import decontaminate

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(0, eval_text), (None, "copy: " + eval_text),
         (None, "tiny"), (1, "tiny too")],
        "doc_id long, text string",
    )
    ev = docs.filter(F.col("doc_id") == 0)
    out = decontaminate(docs, ev, n=8, min_overlap=3).collect()
    assert sorted(r["text"] for r in out) == sorted(
        ["copy: " + eval_text, "tiny", "tiny too"])
    nulls = [r for r in out if r["doc_id"] is None]
    assert all(r["contaminated"] and r["n_overlap"] >= 3 for r in nulls)
    assert [r["contaminated"] for r in out if r["doc_id"] == 1] == [False]


def test_decontaminate_broadcasts_eval_side(spark, docs):
    """The 100 TB contract: the benchmark side must broadcast — the corpus
    is never shuffled by shingle (no sort-merge join in the plan)."""
    from logpipe_spark.operators.corpus import decontaminate

    ev = docs.filter(F.col("doc_id") % 7 == 0)
    plan = decontaminate(docs, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redact_hand_values(spark):
    """Each category redacts independently; a mixed line redacts all
    three; counts come from the ORIGINAL text (order-independent);
    clean text passes through untouched with zero counts."""
    from logpipe_spark.operators.corpus import pii_redact

    rows = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "mail bob.smith+x@corp.example.co and sue@a.io today",
            "server 10.0.255.1 then call +44 20 7946 0958 now",
            "clean sentence with no identifiers at all",
            "u@a.de from 8.8.8.8 dial +1 555 0100",
        ],
    })
    out = {r["doc_id"]: r.asDict()
           for r in pii_redact(spark.createDataFrame(rows)).collect()}
    assert out[0]["n_emails"] == 2 and out[0]["n_ipv4"] == 0
    assert out[0]["text_redacted"] == "mail <EMAIL> and <EMAIL> today"
    assert out[1]["n_ipv4"] == 1 and out[1]["n_phones"] == 1
    assert out[1]["text_redacted"] == "server <IP> then call <PHONE> now"
    assert out[2]["n_emails"] == out[2]["n_ipv4"] == out[2]["n_phones"] == 0
    assert out[2]["text_redacted"] == rows["text"][2]
    assert (out[3]["n_emails"], out[3]["n_ipv4"], out[3]["n_phones"]) == (1, 1, 1)
    assert out[3]["text_redacted"] == "<EMAIL> from <IP> dial <PHONE>"


def test_pii_redact_zero_shuffle(spark):
    """Per-row regex chain → no Exchange in the plan."""
    from logpipe_spark.operators.corpus import pii_redact

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = pii_redact(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_documents_hand_values(spark):
    """10 tokens, size 4, stride 4 → lengths [4,4,2]; stride 2 overlaps
    (starts 1,3,5,7,9); short docs yield one short chunk; empty none.
    Chunks reassemble the doc exactly when stride == chunk_size."""
    from logpipe_spark.operators.corpus import chunk_documents

    rows = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", "a b", "   "],
    })
    docs = spark.createDataFrame(rows)
    out = chunk_documents(docs, chunk_size=4, stride=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["n_tokens"] for r in by_doc[0]] == [4, 4, 2]
    assert [r["chunk_idx"] for r in by_doc[0]] == [0, 1, 2]
    assert " ".join(r["chunk_text"] for r in by_doc[0]) == rows["text"][0]
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "a b"
    assert 2 not in by_doc  # token-less doc emits nothing

    over = chunk_documents(docs.filter(F.col("doc_id") == 0),
                           chunk_size=4, stride=2).collect()
    assert [r["chunk_text"] for r in sorted(over, key=lambda r: r["chunk_idx"])][:2] \
        == ["t0 t1 t2 t3", "t2 t3 t4 t5"]

    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, chunk_size=4, stride=5)


def test_chunk_documents_zero_shuffle(spark):
    """Generate/explode only — no Exchange in the plan."""
    from logpipe_spark.operators.corpus import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mix_sample_matches_targets_and_is_stable(spark, docs):
    """The binding group is kept whole; others trim to floor(frac*T);
    unlisted groups are dropped; selection is repartition-invariant."""
    from logpipe_spark.operators.corpus import mix_sample

    targets = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    got = mix_sample(docs, targets)
    sizes = {r["source"]: r["n"] for r in got.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    n0 = docs.filter(F.col("source") == "src0").count()
    total = n0 / 0.5  # src0 binds on the uniform fixture
    assert sizes == {g: int(f * total + 1e-9) for g, f in targets.items()}
    # mixture achieved exactly; nothing else leaks through
    assert set(sizes) == set(targets)
    ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in
                  mix_sample(docs.repartition(13), targets).select("doc_id").collect())
    assert ids == ids2


def test_mix_sample_validates_inputs(spark, docs):
    from logpipe_spark.operators.corpus import mix_sample

    with pytest.raises(ValueError, match="non-empty"):
        mix_sample(docs, {})
    with pytest.raises(ValueError, match="> 0"):
        mix_sample(docs, {"src0": 0.0})
    with pytest.raises(ValueError, match="absent"):
        mix_sample(docs, {"src0": 0.5, "no_such_source": 0.5})


def test_shuffle_corpus_deterministic_and_sharded(spark):
    from logpipe_spark.operators.corpus import HASH_SPACE, shuffle_corpus

    docs2 = spark.createDataFrame(
        [(i,) for i in range(500)], "doc_id long"
    )
    a = shuffle_corpus(docs2, num_shards=8).collect()
    b = shuffle_corpus(docs2, num_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    step = -(-HASH_SPACE // 8)
    for r in a:
        assert 0 <= r["shard"] < 8
        assert r["shard"] == r["sort_key"] // step  # contiguous hash ranges
    # a different seed produces a different order
    c = {r["doc_id"]: r["sort_key"] for r in
         shuffle_corpus(docs2, num_shards=8, seed="other").collect()}
    assert any(c[r["doc_id"]] != r["sort_key"] for r in a)


def test_shuffle_corpus_stable_under_growth(spark):
    """Same seed + more docs: surviving docs keep their sort keys, so the
    relative order of the old corpus is preserved inside the new one."""
    from logpipe_spark.operators.corpus import shuffle_corpus

    small = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    ks = {r["doc_id"]: r["sort_key"] for r in shuffle_corpus(small, 4).collect()}
    kb = {r["doc_id"]: r["sort_key"] for r in shuffle_corpus(big, 4).collect()}
    assert all(kb[d] == k for d, k in ks.items())


def test_shuffle_corpus_validates_num_shards(spark):
    from logpipe_spark.operators.corpus import shuffle_corpus

    docs2 = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="num_shards"):
        shuffle_corpus(docs2, num_shards=0)

def test_temperature_mix_alpha_endpoints_and_flattening(spark, docs):
    """α=1 is the natural distribution (identity); α=0 is uniform at the
    smallest group's size; 0<α<1 lands strictly between for the skewed
    lang fixture. Selection is repartition-invariant."""
    from logpipe_spark.operators.corpus import temperature_mix

    before = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_min = min(before.values())
    top = max(before, key=before.get)
    assert before[top] > n_min  # fixture is genuinely skewed

    natural = temperature_mix(docs, alpha=1.0, group_col="lang")
    assert natural.count() == docs.count()

    uniform = {r["lang"]: r["n"] for r in
               temperature_mix(docs, alpha=0.0, group_col="lang")
               .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert uniform == {g: n_min for g in before}

    half = {r["lang"]: r["n"] for r in
            temperature_mix(docs, alpha=0.5, group_col="lang")
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # binding group (smallest) kept whole; dominant group strictly
    # trimmed but still above uniform
    assert half[min(before, key=before.get)] == n_min
    assert n_min < half[top] < before[top]

    ids = sorted(r["doc_id"] for r in
                 temperature_mix(docs, alpha=0.5, group_col="lang")
                 .select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in
                  temperature_mix(docs.repartition(13), alpha=0.5,
                                  group_col="lang").select("doc_id").collect())
    assert ids == ids2


def test_temperature_mix_validates_alpha_and_groups(spark, docs):
    from logpipe_spark.operators.corpus import temperature_mix

    with pytest.raises(ValueError, match="alpha"):
        temperature_mix(docs, alpha=1.5)
    with pytest.raises(ValueError, match="absent"):
        temperature_mix(docs, alpha=0.5, groups=["lang_that_is_not_there"],
                        group_col="lang")


def test_temperature_mix_groups_subset_drops_others(spark, docs):
    """Listing groups restricts membership exactly like mix_sample."""
    from logpipe_spark.operators.corpus import temperature_mix

    got = temperature_mix(docs, alpha=0.5, groups=["en", "fr"],
                          group_col="lang")
    langs = {r["lang"] for r in got.select("lang").distinct().collect()}
    assert langs == {"en", "fr"}


def test_quantile_buckets_hand_values_and_ties(spark):
    """8 docs, k=4 -> boundaries at ceil-cum targets 2,4,6; equal scores
    always share a bucket; a value swallowing multiple quantile targets
    leaves the in-between bucket empty."""
    from logpipe_spark.operators.corpus import quantile_buckets

    docs = spark.createDataFrame(
        [(i, s) for i, s in enumerate([5, 1, 3, 3, 9, 7, 3, 1])],
        ["doc_id", "n_chars"],
    )
    got = {r["doc_id"]: r["bucket"]
           for r in quantile_buckets(docs, k=4).collect()}
    # sorted scores: 1,1,3,3,3,5,7,9 -> boundaries b1=1 (cum2), b2=3
    # (cum5>=4), b3=5 (cum6). buckets: 1->0, 3->1, 5->2, 7/9->3
    assert got == {0: 2, 1: 0, 2: 1, 3: 1, 4: 3, 5: 3, 6: 1, 7: 0}

    # all-equal scores: one bucket holds everything
    same = spark.createDataFrame([(i, 42) for i in range(6)],
                                 ["doc_id", "n_chars"])
    vals = {r["bucket"] for r in quantile_buckets(same, k=3).collect()}
    assert vals == {0}


def test_quantile_buckets_null_scores_and_validation(spark):
    from logpipe_spark.operators.corpus import quantile_buckets
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(0, 1), (1, None), (2, 9), (3, 5), (4, 7)],
        "doc_id long, n_chars long",
    )
    got = {r["doc_id"]: r["bucket"]
           for r in quantile_buckets(docs, k=2).collect()}
    assert got[1] is None
    assert sorted(v for v in got.values() if v is not None) == [0, 0, 1, 1]
    with _pytest.raises(ValueError):
        quantile_buckets(docs, k=1)


def test_corpus_diff_all_transitions(spark):
    """added / removed / changed / unchanged all classified; reordering
    words is 'unchanged' under the bag-of-words fingerprint (that's the
    shared content-identity rule, same as fingerprint_dedup)."""
    from logpipe_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(0, "alpha beta"), (1, "keep me"), (2, "gone soon"),
         (3, "will change")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(0, "beta alpha"), (1, "keep me"), (3, "has changed"),
         (4, "brand new")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in corpus_diff(old, new).collect()}
    assert {k: r["status"] for k, r in got.items()} == {
        0: "unchanged", 1: "unchanged", 2: "removed",
        3: "changed", 4: "added",
    }
    assert got[2]["new_fingerprint"] is None
    assert got[4]["old_fingerprint"] is None
    assert got[3]["old_fingerprint"] != got[3]["new_fingerprint"]


def test_quantile_buckets_distinct_scores_property(spark):
    """With all-distinct scores the bucket sizes are EXACTLY the ceil
    partition targets ceil(n·i/k) − ceil(n·(i−1)/k) — i.e. every bucket
    within 1 of n/k — for arbitrary score sets and k (hypothesis)."""
    from hypothesis import given, settings, strategies as st

    from logpipe_spark.operators.corpus import quantile_buckets

    @settings(max_examples=15, deadline=None)
    @given(
        scores=st.lists(
            st.integers(min_value=-10_000, max_value=10_000),
            min_size=2, max_size=60, unique=True,
        ),
        k=st.integers(min_value=2, max_value=7),
    )
    def check(scores, k):
        docs = spark.createDataFrame(
            [(i, s) for i, s in enumerate(scores)], ["doc_id", "n_chars"]
        )
        got = quantile_buckets(docs, k=k).collect()
        n = len(scores)
        sizes = {}
        for r in got:
            sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        expected = {}
        for i in range(1, k + 1):
            lo, hi = -(-n * (i - 1) // k), -(-n * i // k)
            if hi > lo:
                expected[i - 1] = hi - lo
        assert sizes == expected
        # order-consistency: every doc in bucket b has a smaller score
        # than every doc in bucket b+1
        by_bucket = {}
        for r in got:
            by_bucket.setdefault(r["bucket"], []).append(r["score"])
        bs = sorted(by_bucket)
        for a, b in zip(bs, bs[1:]):
            assert max(by_bucket[a]) < min(by_bucket[b])

    check()


def test_split_leak_check_finds_cross_split_content(spark):
    """Duplicate content under different keys in different splits is
    flagged (with sorted split list); dups inside one split and unique
    docs are not."""
    from logpipe_spark.operators.corpus import split_leak_check

    docs = spark.createDataFrame(
        [
            (0, "shared leak text", "train"),
            (1, "leak shared text", "test"),     # bag-of-words dup of 0
            (2, "same split dup", "train"),
            (3, "same split dup", "train"),      # dup but no leak
            (4, "unique doc", "val"),
            (5, "shared leak text", "val"),      # third copy, third split
        ],
        ["doc_id", "text", "split"],
    )
    got = split_leak_check(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_splits"], r["n_docs"], r["splits"]) == (3, 3, "test,train,val")

    clean = docs.filter(F.col("doc_id").isin([0, 2, 3, 4]))
    assert split_leak_check(clean).count() == 0


def test_corpus_funnel_invariants(spark):
    """Composed pipeline (plans/corpus_funnel.py): doc counts are
    non-increasing through the cleaning stages, every stage is present,
    and packing produces fewer bins than chunks."""
    from logpipe_spark.plans.corpus_funnel import run_corpus_funnel

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    f = run_corpus_funnel(spark, docs.repartition(8), eval_docs=ev)
    stages = ["input", "clean_text", "quality_gate", "exact_dedup",
              "neardup_keep_best", "decontaminate", "pii_line_dedup",
              "temperature_mix"]
    assert list(f)[:8] == stages
    counts = [f[s] for s in stages]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert f["input"] > f["temperature_mix"] > 0
    assert 0 < f["packed_bins"] <= f["chunks"]
    assert f["shuffled"] == f["temperature_mix"]


def test_corpus_funnel_line_dedup_fires(spark):
    """Regression (ADVICE r5): clean_text used to collapse newlines to
    spaces, welding every document to one line BEFORE dedup_lines — so
    the C4/RefinedWeb boilerplate-line stage could never fire inside the
    funnel. Plant the same boilerplate line in 8 multi-line docs and
    assert the funnel output has it stripped while the unique lines
    survive."""
    boiler = "Subscribe to our newsletter for updates"
    rows = [
        (
            i,
            f"Unique opening paragraph number {i} with plenty of "
            f"distinct words to clear the quality gate easily.\n"
            f"{boiler}\n"
            f"Another unique closing line for document {i} that keeps "
            f"the content long enough and varied enough to be kept.",
            "en",
            f"https://example{i}.com/page",
        )
        for i in range(8)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )
    # drive the two stages in funnel order (clean_text -> dedup_lines)
    from logpipe_spark.operators.corpus import clean_text
    from logpipe_spark.operators.dedup import dedup_lines

    cleaned = (
        clean_text(docs).drop("text").withColumnRenamed("text_clean", "text")
    )
    # newlines must survive normalization...
    n_lines = cleaned.select(
        F.size(F.split("text", "\n")).alias("n")
    ).agg(F.min("n")).first()[0]
    assert n_lines == 3
    # ...so the boilerplate stage actually fires downstream
    lined = dedup_lines(cleaned, min_docs=5)
    texts = {r["doc_id"]: r["clean_text"] for r in lined.collect()}
    assert all(boiler not in t for t in texts.values())
    assert all(f"number {i}" in texts[i] for i in range(8))


class TestClusterSplit:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_near_dups_never_straddle_splits(self, spark):
        from logpipe_spark.operators.corpus import cluster_split

        docs = self._docs(
            spark, [(i, f"doc {i}") for i in range(30)]
        )
        # chain 0-1-2 and pair 10-11 are clusters; the rest singletons
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long"
        )
        out = cluster_split(
            docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        got = {r["doc_id"]: (r["split_group"], r["split"]) for r in out.collect()}
        assert got[0] == got[1] == got[2]  # whole chain together
        assert got[10] == got[11]
        assert got[0][0] == "0" and got[10][0] == "10"  # component = min id

    def test_string_doc_ids(self, spark):
        """Regression: the singleton fallback used to cast the raw key to
        LONG, which throws under ANSI for non-numeric string ids (and
        silently nulls split_group without). String-keyed corpora must
        split cleanly, clusters still co-assigned."""
        from logpipe_spark.operators.corpus import cluster_split

        docs = spark.createDataFrame(
            [(f"doc-{i}", f"text {i}") for i in range(20)],
            "doc_id string, text string",
        )
        pairs = spark.createDataFrame(
            [("doc-3", "doc-4")], "doc_a string, doc_b string"
        )
        got = {
            r["doc_id"]: (r["split_group"], r["split"])
            for r in cluster_split(docs, pairs).collect()
        }
        assert got["doc-3"] == got["doc-4"]
        assert got["doc-7"][0] == "doc-7"  # singleton = own key
        assert all(v[0] is not None and v[1] is not None for v in got.values())

    def test_singletons_match_hash_split(self, spark):
        from logpipe_spark.operators.corpus import cluster_split, hash_split

        docs = self._docs(spark, [(i, f"doc {i}") for i in range(50)])
        empty = spark.createDataFrame([], "doc_a long, doc_b long")
        out = {
            r["doc_id"]: r["split"]
            for r in cluster_split(docs, empty).collect()
        }
        want = {
            r["doc_id"]: r["split"] for r in hash_split(docs).collect()
        }
        assert out == want

    def test_assignments_stable_under_corpus_growth(self, spark):
        from logpipe_spark.operators.corpus import cluster_split

        pairs = spark.createDataFrame([(3, 4)], "doc_a long, doc_b long")
        small = self._docs(spark, [(i, f"d{i}") for i in range(10)])
        big = self._docs(spark, [(i, f"d{i}") for i in range(20)])
        a = {
            r["doc_id"]: (r["split_group"], r["split"])
            for r in cluster_split(small, pairs).collect()
        }
        b = {
            r["doc_id"]: (r["split_group"], r["split"])
            for r in cluster_split(big, pairs).collect()
        }
        assert all(b[k] == v for k, v in a.items())


class TestWeightedSample:
    def _mirror(self, rows, k, salt):
        """Python mirror of the A-ES key: -ln((h+0.5)/2^60)/w."""
        import hashlib
        import math

        keyed = []
        for doc_id, w in rows:
            if w is None or w <= 0:
                continue
            h = int(
                hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:15],
                16,
            )
            u = (float(h) + 0.5) / float(1 << 60)
            keyed.append((-math.log(u) / float(w), doc_id))
        return {d for _, d in sorted(keyed)[:k]}

    def test_matches_python_mirror_across_salts(self, spark):
        from logpipe_spark.operators.corpus import weighted_sample

        rows = [(i, (i % 7) + 1) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        picks = {}
        for salt in ("ws", "s2", "s3"):
            got = {
                r["doc_id"]
                for r in weighted_sample(
                    df, "w", 25, salt=salt
                ).collect()
            }
            assert got == self._mirror(rows, 25, salt), salt
            picks[salt] = got
        # different salts draw different samples
        assert picks["ws"] != picks["s2"]

    def test_repartition_invariant_and_bad_weights(self, spark):
        from logpipe_spark.operators.corpus import weighted_sample

        rows = [(0, None), (1, 0), (2, -5)] + [
            (i, i) for i in range(3, 60)
        ]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        a = {r["doc_id"] for r in weighted_sample(df, "w", 10).collect()}
        b = {
            r["doc_id"]
            for r in weighted_sample(df.repartition(13), "w", 10).collect()
        }
        assert a == b
        assert not a & {0, 1, 2}  # NULL/zero/negative weights excluded
        import pytest as _pytest

        with _pytest.raises(ValueError, match="positive"):
            weighted_sample(df, "w", 0)

    def test_k_larger_than_n_returns_all_valid(self, spark):
        from logpipe_spark.operators.corpus import weighted_sample

        df = spark.createDataFrame(
            [(1, 4), (2, 1), (3, 0)], "doc_id long, w long"
        )
        got = weighted_sample(df, "w", 99).collect()
        assert {r["doc_id"] for r in got} == {1, 2}

    def test_plan_is_topk_not_sort(self, spark):
        from logpipe_spark.operators.corpus import weighted_sample

        df = spark.createDataFrame(
            [(i, 1) for i in range(50)], "doc_id long, w long"
        )
        plan = (
            weighted_sample(df, "w", 5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "WindowExec" not in plan


def test_corpus_funnel_crawl_gates(spark):
    """The optional crawl-side gates: URL blocklist first, HTML
    extraction next, classifier gate after the heuristic one — each
    monotonically narrows the funnel and the downstream stages still
    run on the extracted text."""
    from logpipe_spark.plans.corpus_funnel import run_corpus_funnel

    n = 120
    rows = [
        (
            i,
            ("https://blocked.ads.net/x" if i % 6 == 0
             else f"https://ok{i % 7}.org/p"),
            "<p>" + (f"Document {i} has some reasonable text content. "
                     * 4) + "</p><script>junk()</script>",
            ["en", "fr"][i % 2],
        )
        for i in range(n)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, html string, lang string"
    )
    bl = spark.createDataFrame([("ads.net",)], "domain string")
    f = run_corpus_funnel(
        spark,
        docs.repartition(8),
        html_col="html",
        url_blocklist=bl,
        classifier_threshold=-1.0,  # permissive: gate runs, keeps all
    )
    assert f["url_blocklist"] == n - n // 6
    assert f["html_extract"] == f["url_blocklist"]
    assert f["classifier_gate"] <= f["quality_gate"] > 0
    assert f["shuffled"] > 0
    # stage keys appear in C4/RefinedWeb order
    keys = list(f)
    assert keys[:6] == ["input", "url_blocklist", "html_extract",
                        "clean_text", "quality_gate", "classifier_gate"]
    assert f["clean_text"] == f["html_extract"]  # map-only, count-preserving


def test_clean_text_nfc_controls_whitespace(spark):
    from logpipe_spark.operators.corpus import clean_text

    rows = [
        (0, "café time"),          # decomposed -> composed
        (1, "a\x07b\x00c"),                      # bare controls deleted
        (2, "  a\t\tb\r\nc  "),                  # runs collapse, trim; LF survives
        (3, "already clean"),
        (4, None),
        (5, "line one \r\n line two\rline three\n\nlast  \n "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text_clean"] for r in clean_text(df).collect()}
    assert got[0] == "caf\u00e9 time"
    assert got[1] == "abc"
    assert got[2] == "a b\nc"
    assert got[3] == "already clean"
    assert got[4] is None
    # newlines are PRESERVED (dedup_lines depends on it): CR/CRLF fold to
    # LF, spaces hugging a newline vanish, blank lines survive, edges trim
    assert got[5] == "line one\nline two\nline three\n\nlast"


def test_clean_text_then_dedup_lines_composes(spark):
    """Regression for the funnel-composition bug: clean_text used to
    collapse newlines to spaces, so every document reached dedup_lines as
    ONE line and the C4 boilerplate-line stage could never fire. After
    normalization the repeated cookie-banner line must still be a line —
    and get removed from every doc."""
    from logpipe_spark.operators.corpus import clean_text
    from logpipe_spark.operators.dedup import dedup_lines

    banner = "This site uses cookies"
    docs = spark.createDataFrame(
        [
            (1, f"{banner} \r\n alpha body one"),
            (2, f"{banner}\nbeta body two"),
            (3, f"{banner}\r\ngamma body three"),
        ],
        "doc_id long, text string",
    )
    cleaned = clean_text(docs).drop("text").withColumnRenamed(
        "text_clean", "text"
    )
    got = {r["doc_id"]: r["clean_text"]
           for r in dedup_lines(cleaned, min_docs=2).collect()}
    assert got[1] == "alpha body one"
    assert got[2] == "beta body two"
    assert got[3] == "gamma body three"


def test_remove_eval_spans_surgery(spark):
    from logpipe_spark.operators.corpus import remove_eval_spans

    eight = "q w e r t y u i"          # the contaminated 8-gram
    docs = spark.createDataFrame(
        [
            (1, f"aa bb {eight} cc dd"),   # contaminated in the middle
            (2, "aa bb cc dd ee ff gg hh ii"),  # clean, passes through
            (3, eight),                   # nothing but the span → empty
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(99, f"zz {eight} xx")], "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_kept"])
           for r in remove_eval_spans(docs, ev, n=8).collect()}
    assert got[1] == ("aa bb cc dd", 4)
    assert got[2] == ("aa bb cc dd ee ff gg hh ii", 9)
    assert got[3] == ("", 0)


def test_corpus_funnel_excise_mode_keeps_more(spark):
    """decontam_mode='excise' must keep at least as many docs as 'drop'
    (surgery only empties a doc that was all contamination) and the
    downstream stages still run."""
    from logpipe_spark.plans.corpus_funnel import run_corpus_funnel

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    drop = run_corpus_funnel(spark, docs.repartition(8), eval_docs=ev)
    excise = run_corpus_funnel(
        spark, docs.repartition(8), eval_docs=ev, decontam_mode="excise"
    )
    assert excise["decontaminate"] >= drop["decontaminate"]
    assert excise["neardup_keep_best"] == drop["neardup_keep_best"]
    assert excise["shuffled"] > 0


#: sf0.001 funnel counts in drop mode (eval set: doc_id % 97 == 0); the
#: counts every funnel plan must keep
_SF0001_FUNNEL = {
    "input": 500, "clean_text": 500, "quality_gate": 452, "exact_dedup": 452,
    "neardup_keep_best": 430, "decontaminate": 424, "pii_line_dedup": 424,
    "temperature_mix": 357, "chunks": 357, "packed_bins": 98, "shuffled": 357,
}


def test_corpus_funnel_counts_pinned_and_ride_checkpoint_jobs(spark):
    """Each stage's count comes from the job that materializes the stage,
    so the funnel runs no job just to count — and the counts stay those
    of a count per stage: in drop mode, in excise mode, and with a
    NULL-keyed doc that passes the quality gate, which leaves the funnel
    at that gate (every stage after it is keyed on doc_id)."""
    from logpipe_spark.plans.corpus_funnel import run_corpus_funnel

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    drop, n_jobs = count_jobs(
        spark, lambda: run_corpus_funnel(spark, docs.repartition(8), eval_docs=ev)
    )
    assert drop == _SF0001_FUNNEL
    assert list(drop) == list(_SF0001_FUNNEL)
    # 71 with a count() per stage, 46 with the gates joining results back
    assert n_jobs <= 40, n_jobs

    excise, n_jobs = count_jobs(
        spark,
        lambda: run_corpus_funnel(
            spark, docs.repartition(8), eval_docs=ev, decontam_mode="excise"
        ),
    )
    assert excise == {**_SF0001_FUNNEL, "decontaminate": 425, "pii_line_dedup": 425}
    assert n_jobs <= 41, n_jobs  # 50 with the gates joining results back

    kept = corpus_filter(docs).filter("keep").orderBy("doc_id").limit(1)
    unkeyed = kept.select(*docs.columns).withColumn(
        "doc_id", F.lit(None).cast("long")
    ).withColumn("text", F.concat("text", F.lit(" unkeyed")))
    with_null = run_corpus_funnel(
        spark, docs.unionByName(unkeyed).repartition(8), eval_docs=ev
    )
    assert with_null == {**_SF0001_FUNNEL, "input": 501, "clean_text": 501}


def test_clean_text_plan_is_map_only(spark):
    """Normalization is per-row → the plan must contain no Exchange, and
    NFC runs in the JVM → no Arrow UDF node hands rows to Python."""
    from logpipe_spark.operators.corpus import clean_text

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = clean_text(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan


def _nfc_pool() -> list[str]:
    """Letters and combining marks from the ranges where NFC composes:
    Latin, combining diacritics, Greek extended, Hangul jamo and
    syllables — only code points Python's Unicode database assigns."""
    import unicodedata

    ranges = [(0x41, 0x24F), (0x300, 0x36F), (0x370, 0x3FF),
              (0x1E00, 0x1FFF), (0x1100, 0x11FF), (0xAC00, 0xAC40),
              (0xD790, 0xD7A3)]
    return [
        chr(c) for lo, hi in ranges for c in range(lo, hi + 1)
        if unicodedata.category(chr(c))[0] in "LM"
    ]


def test_clean_text_nfc_matches_python_property(spark):
    """For text of letters, combining marks and Hangul only (nothing the
    whitespace and control steps touch), ``clean_text`` is exactly NFC:
    the JVM's ICU4J normalizer agrees with ``unicodedata`` on every code
    point Python's Unicode version assigns (ICU4J may know newer ones,
    which the strategy never draws)."""
    import unicodedata

    from hypothesis import given, settings, strategies as st

    from logpipe_spark.operators.corpus import clean_text

    char = st.one_of(
        st.sampled_from(_nfc_pool()),
        st.characters(categories=("L", "M"), codec="utf-8"),
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.text(alphabet=char, max_size=12), min_size=1, max_size=8))
    def check(texts):
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["text_clean"] for r in clean_text(docs).collect()}
        assert got == {
            i: unicodedata.normalize("NFC", t) for i, t in enumerate(texts)
        }

    check()


def test_remove_eval_spans_eval_side_broadcasts(spark):
    """The scale claim: the eval shingle set broadcasts, so the
    corpus-sized span table never shuffles by span — the plan must use
    BroadcastHashJoin for the span match and never SortMergeJoin."""
    from logpipe_spark.operators.corpus import remove_eval_spans

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    plan = remove_eval_spans(docs, ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
