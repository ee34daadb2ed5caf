"""Bloom filter + Bloom-pruned semi-join (operators/bloom.py).

Value parity vs the exact semi-join is covered by the `bloom_semi_join`
contract oracle; these pin the FILTER's own guarantees on the probe
``bloom_semi_join`` ships — zero false negatives, a bounded
false-positive rate at the spec'd (m, k) with exactly the admissions a
pure-Python reference of the bit positions makes, OR-merge equivalence,
and that the prefilter actually discards non-members before the join's
exchange.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from logpipe_spark.operators.bloom import (
    MAX_BLOOM_BITS,
    bloom_semi_join,
    build_bloom,
)

M_BITS = 1 << 13
K = 5


def _ref_positions(key: str, m_bits: int, k: int) -> list[int]:
    """hashlib mirror of ``bloom._positions``: one md5 under salt ``bf:``,
    hex chars 1-15 and 16-30 as the two Kirsch-Mitzenmacher halves."""
    hx = hashlib.md5(f"bf:{key}".encode()).hexdigest()
    h1 = int(hx[0:15], 16) % m_bits
    h2 = (int(hx[15:30], 16) * 2 + 1) % m_bits
    return [(h1 + i * h2) % m_bits for i in range(k)]


def _ref_might_contain(words: dict, key: str, m_bits: int, k: int) -> bool:
    return all(
        (words.get(p // 32, 0) >> (p % 32)) & 1
        for p in _ref_positions(key, m_bits, k)
    )


def _collect_words(bloom) -> dict:
    return {r["word"]: r["bits"] for r in bloom.collect()}


@pytest.fixture(scope="module")
def member_df(spark):
    return spark.createDataFrame(
        [Row(key=f"member-{i}") for i in range(500)]
    )


@pytest.fixture(scope="module")
def words(member_df):
    return _collect_words(build_bloom(member_df, "key", M_BITS, K))


def test_no_false_negatives(spark, member_df):
    kept = bloom_semi_join(
        member_df, member_df, "key", "key", M_BITS, K, exact=False
    )
    assert {r["key"] for r in kept.collect()} == {f"member-{i}" for i in range(500)}


def test_false_positive_rate_bounded(spark, member_df, words):
    # 500 keys in 8192 bits with k=5 → theoretical FP ≈ (1-e^{-kn/m})^k
    # ≈ 0.15%. Allow a generous 2% ceiling over 5000 non-members.
    keys = [f"other-{i}" for i in range(5000)]
    non = spark.createDataFrame([Row(key=x) for x in keys])
    fp = {
        r["key"]
        for r in bloom_semi_join(
            non, member_df, "key", "key", M_BITS, K, exact=False
        ).collect()
    }
    assert fp == {x for x in keys if _ref_might_contain(words, x, M_BITS, K)}
    assert len(fp) / 5000 < 0.02, len(fp)


def test_or_merge_equals_union_build(spark):
    a = spark.createDataFrame([Row(key=f"a-{i}") for i in range(200)])
    b = spark.createDataFrame([Row(key=f"b-{i}") for i in range(200)])
    merged = (
        build_bloom(a, "key", M_BITS, K)
        .unionByName(build_bloom(b, "key", M_BITS, K))
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    direct = build_bloom(a.unionByName(b), "key", M_BITS, K)
    assert _collect_words(merged) == _collect_words(direct)


def test_word_table_shape(member_df):
    rows = build_bloom(member_df, "key", M_BITS, K).collect()
    assert all(0 <= r["word"] < M_BITS // 32 for r in rows)
    # every mask fits in 32 bits (engine-portable: no sign games)
    assert all(0 < r["bits"] < (1 << 32) for r in rows)


def test_semi_join_exact_and_pruning(spark, member_df):
    big = spark.createDataFrame(
        [Row(key=f"member-{i % 750}", v=i) for i in range(3000)]
    )
    out = bloom_semi_join(big, member_df, "key", "key", M_BITS, K)
    expect = big.join(member_df, on="key", how="left_semi")
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in expect.collect()
    )
    # the approximate mode must be a superset of members and strictly
    # smaller than the input (keys 500..749 are non-members)
    pruned = bloom_semi_join(
        big, member_df, "key", "key", M_BITS, K, exact=False
    ).count()
    assert expect.count() <= pruned < 3000


def test_spec_validation(member_df):
    with pytest.raises(ValueError):
        build_bloom(member_df, "key", m_bits=100)  # not a multiple of 32
    with pytest.raises(ValueError):
        build_bloom(member_df, "key", m_bits=MAX_BLOOM_BITS * 2)
    with pytest.raises(ValueError):
        build_bloom(member_df, "key", k=0)


def test_bytemap_probe_matches_array_probe(spark):
    """The fast binary-blob probe path (what bloom_semi_join ships to
    executors) admits exactly the same keys as the Python word-array
    reference over the collected (word, bits) rows — same filter, same
    k strides, element-for-element."""
    from logpipe_spark.operators.bloom import (
        MAX_BYTEMAP_BITS,
        bloom_bytemap,
        bloom_might_contain_bytes,
    )

    m, k = 1 << 12, 5
    members = spark.range(0, 300).select(
        F.col("id").cast("string").alias("key")
    )
    bl = build_bloom(members, "key", m, k)
    collected = _collect_words(bl)
    words = [collected.get(w, 0) for w in range(m // 32)]
    blob = bloom_bytemap(bl, m)
    # blob bit b set  <=>  words bit b set
    assert all(
        blob[32 * w + b] == ((words[w] >> b) & 1)
        for w in range(m // 32) for b in range(32)
    )
    probe = spark.range(0, 2000).select(
        F.col("id").cast("string").alias("key")
    )
    hx = F.md5(F.concat(F.lit("bf:"), F.col("key")))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long") % m
    h2 = (F.conv(F.substring(hx, 16, 15), 16, 10).cast("long") * 2 + 1) % m
    via_bytes = {
        r["key"]
        for r in probe.where(
            bloom_might_contain_bytes(blob, h1, h2, m, k)
        ).collect()
    }
    via_words = {
        str(i) for i in range(2000) if _ref_might_contain(collected, str(i), m, k)
    }
    assert via_bytes == via_words
    assert {str(i) for i in range(300)} <= via_bytes  # no false negatives

    with pytest.raises(ValueError, match="capped"):
        bloom_bytemap(bl, MAX_BYTEMAP_BITS * 2)


def test_semi_join_above_bytemap_cap_uses_broadcast_probe(spark, member_df):
    """m_bits in (MAX_BYTEMAP_BITS, MAX_BLOOM_BITS] must WORK (it used to
    raise): the packed-bit broadcast + pandas probe path gives the same
    exact semi-join, and the approximate mode still has zero false
    negatives. Also pins bitpack<->bytemap bit agreement on a small spec."""
    import numpy as np

    from logpipe_spark.operators.bloom import (
        MAX_BYTEMAP_BITS,
        bloom_bitpack,
        bloom_bytemap,
        build_bloom,
    )

    m = MAX_BYTEMAP_BITS * 2  # 2^24: above the literal cap, cheap to build
    big = spark.createDataFrame(
        [Row(key=f"member-{i % 750}", v=i) for i in range(3000)]
    )
    out = bloom_semi_join(big, member_df, "key", "key", m, K)
    expect = big.join(member_df, on="key", how="left_semi")
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in expect.collect()
    )
    pruned = bloom_semi_join(big, member_df, "key", "key", m, K, exact=False)
    assert expect.count() <= pruned.count() < 3000

    # packed-bit density agrees with the byte-map on a spec small enough
    # to hold both representations
    m_small = 1 << 12
    bl = build_bloom(member_df, "key", m_small, K)
    packed = bloom_bitpack(bl, m_small)
    blob = bloom_bytemap(bl, m_small)
    expanded = np.unpackbits(packed, bitorder="little")
    assert expanded.tolist() == list(blob)
