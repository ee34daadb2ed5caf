"""Engine-portable Bloom filter + Bloom-pruned semi-join.

Why beside ``enrich.matched`` (broadcast left-semi): a semi-join key set
can outgrow a broadcast HASH RELATION long before it outgrows a Bloom
filter — 100M distinct 8-byte keys is gigabytes as a hash table but
~180 MB of Bloom bits at 1% FP, and the bits compress the driver→executor
hop the same way. ``bloom_semi_join`` keeps the big side's shuffle volume
down by discarding non-members map-side, then (by default) finishes with
the exact join so the RESULT is precisely the semi-join — the Bloom only
prunes, it never decides. That's also why the contract oracle is a plain
``WHERE key IN (...)``: approximate plumbing, exact semantics.

Portability: bit positions come from the shared md5 spec — ONE md5 under
salt ``bf:`` split into two 60-bit halves driving Kirsch–Mitzenmacher
double hashing (see ``_positions``) — and words are 32-bit so every mask
stays positive in engines without unsigned 64-bit shifts. Like the
HLL/Count-Min sketches in `operators/sketch.py`, the filter is a TABLE
((word, bits) rows) mergeable by OR — persistable next to the snapshot
ledger and rebuildable bit-for-bit by any engine.

Spark has a builtin Bloom join (runtime row-group filtering); this one
exists where that can't go: cross-engine reproducibility, explicit
persistence, and filters built ONCE and reused across many jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: refuse to build filters the driver shouldn't hold (64 MB of words).
MAX_BLOOM_BITS = 1 << 29


def _base_hashes(col: Column, m_bits: int) -> tuple[Column, Column]:
    """(h1, h2') of a key: ONE md5 under salt ``bf:`` yields two
    independent 60-bit halves (hex chars 1-15 and 16-30); h1 is the first
    mod m and h2' = (2·h2 + 1) mod m — the odd stride keeps the probe
    sequence non-degenerate on power-of-two m."""
    hx = F.md5(F.concat(F.lit("bf:"), col.cast("string")))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long") % m_bits
    h2 = (
        F.conv(F.substring(hx, 16, 15), 16, 10).cast("long") * 2 + 1
    ) % m_bits
    return h1, h2


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """Kirsch–Mitzenmacher double hashing: position i is
    (h1 + i·h2') mod m over :func:`_base_hashes`. Same FP behavior as k
    independent hashes (Kirsch & Mitzenmacher, ESA'06) at 1/k the hash
    cost; overflow-safe because both operands are reduced mod m ≤ 2^29
    before the multiply. Engine-portable: any SQL engine reproduces it
    from md5/substr/CAST."""
    h1, h2 = _base_hashes(col, m_bits)
    return [(h1 + i * h2) % m_bits for i in range(k)]


def build_bloom(
    df: DataFrame, col: str, m_bits: int = 1 << 17, k: int = 5
) -> DataFrame:
    """Bloom filter of a key column as a (word, bits) table —
    ceil(m_bits/32) rows of 32-bit masks in a BIGINT. One map-side
    explode of k positions, distinct, then a partial+final BIT_OR — the
    exchange carries ≤ m_bits/32 rows per partition. Merge two filters
    over the same (m_bits, k) spec by BIT_OR on word."""
    if m_bits % 32 != 0 or not 32 <= m_bits <= MAX_BLOOM_BITS:
        raise ValueError(f"m_bits must be a multiple of 32 in [32, 2^29]: {m_bits}")
    if not 1 <= k <= 16:
        raise ValueError(f"k out of range: {k}")
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias("pos")
    return (
        df.select(pos)
        .distinct()
        .select(
            (F.col("pos") / 32).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


#: byte-map probe blobs above this bit count would exceed ~1 MB
MAX_BYTEMAP_BITS = 1 << 23


def _set_bits(bloom: DataFrame):
    """Every set bit position of a (word, bits) filter, from one collect."""
    for row in bloom.collect():
        base, bits = row["word"] * 32, row["bits"]
        while bits:
            b = bits & -bits
            yield base + b.bit_length() - 1
            bits ^= b


def bloom_bytemap(bloom: DataFrame, m_bits: int) -> bytes:
    """Densify a (word, bits) filter into a PROBE BLOB: one byte per
    BIT (0x00 / 0x01, m_bits bytes). The storage/merge format stays the
    compact (word, bits) table; this expansion exists purely because of
    how Spark evaluates per-row lookups against driver-held constants —
    measured on 150k probe rows, 4096-word filter:

    - ``F.lit(list)`` + ``element_at`` over a dense word list: the
      CreateArray child is re-materialised per probe per row → 7-8 s.
    - hex STRING literal + ``substr``: UTF8String counts characters, so
      every substr is O(len) → 13 s for ONE probe of a 32 KB string.
    - BINARY literal + ``substr``: byte slicing is offset math → the
      whole 5-probe filter runs in ~2 s, and byte-per-bit makes each
      probe a 1-byte slice compared against 0x00 — no conv, no hex,
      no arrays, no per-row allocation.

    The 8× expansion (1 MB at 2^23 bits, the ``MAX_BYTEMAP_BITS`` cap)
    buys O(1) probes; ``bloom_semi_join`` probes filters bigger than the
    cap with :func:`bloom_bitpack` instead of a literal."""
    if m_bits > MAX_BYTEMAP_BITS:
        raise ValueError(
            f"byte-map probe blob capped at {MAX_BYTEMAP_BITS} bits; "
            f"got {m_bits} — join against the (word, bits) table instead"
        )
    blob = bytearray(m_bits)
    for p in _set_bits(bloom):
        blob[p] = 1
    return bytes(blob)


def bloom_might_contain_bytes(
    blob: bytes, h1: Column, h2: Column, m_bits: int, k: int
) -> Column:
    """Membership predicate against a byte-map blob, given the two
    PRE-PROJECTED base hashes (``h1``, ``h2`` as columns — projecting
    them once before the filter is what keeps md5 at ONE evaluation per
    row; Catalyst does not common-subexpression-eliminate inside filter
    predicates). Each of the k probes is integer math + a 1-byte binary
    slice compared against 0x00."""
    bl = F.lit(blob)
    zero = F.lit(bytes([0]))
    cond = None
    for i in range(k):
        p = (h1 + i * h2) % m_bits
        hit = bl.substr(p.cast("int") + 1, F.lit(1)) != zero
        cond = hit if cond is None else (cond & hit)
    return cond


def bloom_bitpack(bloom: DataFrame, m_bits: int):
    """Densify a (word, bits) filter into a PACKED numpy bit array
    (uint8, 1 bit per position, m_bits/8 bytes — 64 MB at the
    MAX_BLOOM_BITS cap, vs the byte-map's 512 MB). The probe form for
    filters too big to ride as a BINARY literal: shipped once per
    executor via ``sc.broadcast`` and tested with vectorized numpy in
    an Arrow-batched pandas pass (:func:`_bloom_prune_pandas`). Bit
    order within a word matches ``_positions``: bit p lives at byte
    p//8, mask 1 << (p%8)."""
    import numpy as np

    if m_bits % 32 != 0 or not 32 <= m_bits <= MAX_BLOOM_BITS:
        raise ValueError(f"m_bits must be a multiple of 32 in [32, 2^29]: {m_bits}")
    packed = np.zeros(m_bits // 8, dtype=np.uint8)
    for p in _set_bits(bloom):
        packed[p >> 3] |= 1 << (p & 7)
    return packed


def _bloom_prune_pandas(
    big: DataFrame, packed, big_key: str, m_bits: int, k: int
) -> DataFrame:
    """Map-only Bloom prune for filters above ``MAX_BYTEMAP_BITS``: the
    packed bit array broadcasts to every executor ONCE (not re-shipped
    per task like a literal would be), and each Arrow batch probes it
    with numpy gathers — zero shuffle, zero JVM-literal blowup. md5 is
    per-row Python here (hashlib), which is why the BINARY-literal path
    stays the default below the cap."""
    import hashlib

    import numpy as np
    import pandas as pd

    sc = big.sparkSession.sparkContext
    bvar = sc.broadcast(packed)
    schema = big.schema

    def prune(batches):
        arr = bvar.value
        for pdf in batches:
            keys = pdf[big_key].astype("string")
            h1 = np.empty(len(pdf), dtype=np.int64)
            h2 = np.empty(len(pdf), dtype=np.int64)
            keep = np.ones(len(pdf), dtype=bool)
            for j, s in enumerate(keys):
                if pd.isna(s):       # NULL key: the JVM path's
                    keep[j] = False  # null predicate drops it too
                    h1[j] = h2[j] = 0
                    continue
                hx = hashlib.md5(f"bf:{s}".encode()).hexdigest()
                h1[j] = int(hx[0:15], 16) % m_bits
                h2[j] = (int(hx[15:30], 16) * 2 + 1) % m_bits
            for i in range(k):
                p = (h1 + i * h2) % m_bits
                keep &= (arr[p >> 3] & (1 << (p & 7)).astype(np.uint8)) != 0
            yield pdf[keep]

    return big.mapInPandas(prune, schema=schema)


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int = 1 << 17,
    k: int = 5,
    exact: bool = True,
) -> DataFrame:
    """``big ⋉ small`` with a Bloom prefilter on the big side.

    The filter is built from ``small``'s keys and applied map-side to
    ``big`` BEFORE any join — only probable members reach the exact
    left-semi join's exchange (false-positive rate, not data size,
    bounds the overshoot). Two probe representations, same bit
    decisions:

    - ``m_bits ≤ MAX_BYTEMAP_BITS``: byte-map BINARY literal, two
      pre-projected md5 halves, k 1-byte slices per row — all JVM
      codegen (see ``bloom_bytemap`` for the measured why).
    - larger filters (up to ``MAX_BLOOM_BITS``): packed-bit numpy array
      broadcast once per executor, probed by an Arrow-batched pandas
      pass (:func:`_bloom_prune_pandas`) — still map-only; a 512 MB
      byte-map literal would not survive the plan, a 64 MB broadcast
      does.

    With ``exact=False`` the join is skipped and the result may keep
    Bloom false positives — the mode for pre-shuffle pruning inside a
    larger plan where a later stage re-verifies anyway."""
    bloom = build_bloom(small, small_key, m_bits, k)
    if m_bits <= MAX_BYTEMAP_BITS:
        blob = bloom_bytemap(bloom, m_bits)
        h1, h2 = _base_hashes(F.col(big_key), m_bits)
        h1c, h2c = "_bf_h1", "_bf_h2"
        pruned = (
            big.withColumn(h1c, h1)
            .withColumn(h2c, h2)
            .where(
                bloom_might_contain_bytes(
                    blob, F.col(h1c), F.col(h2c), m_bits, k
                )
            )
            .drop(h1c, h2c)
        )
    else:
        pruned = _bloom_prune_pandas(
            big, bloom_bitpack(bloom, m_bits), big_key, m_bits, k
        )
    if not exact:
        return pruned
    return pruned.join(
        small.select(F.col(small_key).alias(big_key)).distinct(),
        on=big_key,
        how="left_semi",
    )
