"""ANN operators vs a numpy oracle on the driver-provided embeddings table."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.similarity import (
    cosine,
    cosine_topk,
    cosine_topk_lsh,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    pdf = emb.toPandas()
    return {int(r.vec_id): np.array(r.embedding, dtype=np.float64) for r in pdf.itertuples()}


def _np_topk(emb_np, qid, k):
    q = emb_np[qid]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in emb_np.items()
        if vid != qid
    }
    return [vid for vid, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def test_bruteforce_matches_numpy(emb, emb_np):
    got = [r["vec_id"] for r in cosine_topk(emb, query_vec_id=0, k=10).collect()]
    exp = _np_topk(emb_np, 0, 10)
    assert sorted(got) == sorted(exp)


def test_scored_sims_close_to_numpy(emb, emb_np):
    rows = cosine_topk(emb, query_vec_id=3, k=5).collect()
    q = emb_np[3]
    for r in rows:
        v = emb_np[int(r["vec_id"])]
        exp = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        assert abs(r["sim"] - exp) < 1e-9


def test_lsh_recall_reasonable(emb, emb_np):
    """Recall check at parameters suited to this corpus: the synthetic
    embeddings are near-random (top-10 cosine ≈ 0.3-0.4), so true neighbors
    sit ~2 bits away in sketch space — 4 bits + 2-probe must recover most
    of the true top-10 while still pruning half the corpus."""
    exp = set(_np_topk(emb_np, 0, 10))
    got = {
        r["vec_id"]
        for r in cosine_topk_lsh(
            emb, query_vec_id=0, k=10, bits=4, probe_hamming=2
        ).collect()
    }
    assert len(got & exp) >= 5, f"recall too low: {len(got & exp)}/10"


def test_cosine_expression_self_similarity(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"v": [[1.0, 2.0, 3.0]], "w": [[1.0, 2.0, 3.0]]})
    )
    sim = df.select(cosine(F.col("v"), F.col("w")).alias("s")).collect()[0]["s"]
    assert abs(sim - 1.0) < 1e-12


def test_ivf_topk_recall(emb, emb_np):
    from logpipe_spark.operators.similarity import ivf_build, ivf_topk

    assigned, centers = ivf_build(emb, n_cells=16)
    q = emb_np[0].tolist()
    exp = set(_np_topk(emb_np, 0, 10))
    got = {
        r["vec_id"]
        for r in ivf_topk(assigned, centers, q, k=11, nprobe=8).collect()
        if r["vec_id"] != 0
    }
    # near-random embeddings: probing half the cells must recover most of top-10
    assert len(got & exp) >= 5, f"IVF recall {len(got & exp)}/10"


def test_ivf_deterministic(emb):
    from logpipe_spark.operators.similarity import ivf_build

    _, c1 = ivf_build(emb, n_cells=8)
    _, c2 = ivf_build(emb, n_cells=8)
    assert c1 == c2


def test_embedding_neardup_exact_vs_numpy(emb, emb_np):
    import numpy as np

    from logpipe_spark.operators.similarity import embedding_neardup_pairs

    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.4, bits=None).collect()
    }
    ids = sorted(emb_np)
    E = np.stack([emb_np[i] for i in ids])
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    exp = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.4
    }
    assert got == exp


def test_embedding_neardup_lsh_subset(emb):
    from logpipe_spark.operators.similarity import embedding_neardup_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.4, bits=None).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.4, bits=4).collect()
    }
    assert lsh <= exact  # candidates are pruned, never invented
    assert len(lsh) > 0


def test_neardup_multiprobe_exact_on_planted_dups(emb, emb_np):
    """Multi-probe LSH (hamming ≤ 2 probe radius) recovers EXACTLY the
    planted near-dup pairs: each vector unioned with a ±2% alternating
    perturbation of itself (cosine ≈ 0.9998); threshold 0.9 separates the
    planted pairs (≈1.0) from the random background (≤ ~0.52)."""
    import numpy as np

    from logpipe_spark.operators.similarity import neardup_lsh_multiprobe

    orig = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x.cast("double") * (1 + 0.02 * (1 - 2 * (i % 2)))
        ).alias("embedding"),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in neardup_lsh_multiprobe(orig.unionByName(pert), threshold=0.9, bits=8).collect()
    }
    # numpy exact oracle over the same derived corpus
    scale = np.array([1 + 0.02 * (1 - 2 * (i % 2)) for i in range(64)])
    vecs = {i: v for i, v in emb_np.items()}
    vecs.update({i + 100000: v * scale for i, v in emb_np.items()})
    ids = sorted(vecs)
    E = np.stack([vecs[i] for i in ids])
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    exp = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.9
    }
    assert got == exp
    assert len(got) == emb.count()  # one planted pair per source vector


def test_exact_blockgrid_no_cartesian(emb):
    """The exact mode's physical plan is a block-grid equi-join: no
    CartesianProduct / nested-loop operator anywhere."""
    from logpipe_spark.operators.similarity import embedding_neardup_pairs

    plan = embedding_neardup_pairs(emb, threshold=0.4, bits=None)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_lsh_index_partition_pruning(spark, emb, emb_np, tmp_path):
    """write_lsh_index + topk_from_lsh_index: the query must (a) return the
    exact brute-force top-k on a planted corpus, and (b) actually PRUNE —
    bucket is a directory-partition column, so the In(bucket) predicate
    must cut the scanned file set, not filter rows post-scan."""
    from logpipe_spark.operators.similarity import (
        topk_from_lsh_index,
        write_lsh_index,
    )

    qv = emb_np[0]
    # derived corpus: all vectors except the query itself, plus 10 planted
    # near-dups of the query (strictly ranked by perturbation size)
    orig = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    js = spark.range(1, 11).select(F.col("id").cast("int").alias("j"))
    planted = q0.crossJoin(F.broadcast(js)).select(
        (F.lit(200000) + F.col("j")).cast("long").alias("vec_id"),
        F.transform(
            "qv", lambda x, i: x * (1 + F.lit(0.002) * F.col("j") * (1 - 2 * (i % 2)))
        ).alias("embedding"),
    )
    corpus = orig.unionByName(planted)
    path = str(tmp_path / "lsh_index")
    write_lsh_index(corpus, path, bits=16, prefix_bits=8)

    got = topk_from_lsh_index(
        spark, path, [float(x) for x in qv], k=10, bits=16, prefix_bits=8
    )
    assert [r["vec_id"] for r in got.collect()] == [200000 + j for j in range(1, 11)]

    # pruning evidence: the predicate lands in PartitionFilters (not a
    # post-scan row Filter), and the executed scan's numFiles metric shows
    # it read only the probed directories — ≤ C(8,≤2)=37 of the 2^8 dirs
    probed = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in probed and "bucket" in probed
    total_files = len(spark.read.parquet(path).inputFiles())
    scan = got._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    num_files = scan.metrics().apply("numFiles").value()
    assert num_files <= 37 < total_files


def test_ivf_index_partition_pruning(spark, emb, emb_np, tmp_path):
    """write_ivf_index + topk_from_ivf_index: exact brute-force top-k on a
    planted corpus through an nprobe-pruned scan (the near-identical
    planted copies land in the query's own k-means cell), with pruning
    asserted via the scan's numFiles metric."""
    from logpipe_spark.operators.similarity import (
        topk_from_ivf_index,
        write_ivf_index,
    )

    qv = [float(x) for x in emb_np[0]]
    orig = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    js = spark.range(1, 11).select(F.col("id").cast("int").alias("j"))
    planted = q0.crossJoin(F.broadcast(js)).select(
        (F.lit(200000) + F.col("j")).cast("long").alias("vec_id"),
        F.transform(
            "qv", lambda x, i: x * (1 + F.lit(0.002) * F.col("j") * (1 - 2 * (i % 2)))
        ).alias("embedding"),
    )
    corpus = orig.unionByName(planted)
    path = str(tmp_path / "ivf_index")
    centers = write_ivf_index(corpus, path, n_cells=16)
    assert len(centers) == 16

    got = topk_from_ivf_index(spark, path, qv, k=10, nprobe=4)
    rows = got.collect()
    assert [r["vec_id"] for r in rows] == [200000 + j for j in range(1, 11)]

    total_files = len(spark.read.parquet(path).inputFiles())
    scan = got._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    num_files = scan.metrics().apply("numFiles").value()
    assert num_files <= 4 < total_files  # nprobe dirs only, 1 file per cell
