"""Distributed cardinality sketching: an engine-portable HyperLogLog.

Why not ``approx_count_distinct``: Spark's built-in HLL++ is a black box —
its register layout isn't reproducible in another engine, so a migration
can't value-check it, and its sketches can't be persisted for later
merging by outside tooling. This implementation fixes the sketch spec
(md5-derived register/rank split, below) so ANY engine reproduces it bit
for bit — the same portability rule as ``base_hash60``
(`operators/dedup.py:212`).

Sketch spec (p-bit registers, default p=8 → m=256):
- register index j = low p bits of the md5-derived 60-bit hash
  (``base_hash60 % m``);
- rank r = ρ(upper bits) = (number of leading zero bits of the hash's
  top 52 bits, +1), capped at 53 when those bits are all zero;
- register value M_j = max rank seen.

All integer arithmetic. The harmonic-mean denominator Σ 2^{-M_j} is kept
EXACT by scaling: Σ 2^{53-M_j} is an integer ≤ m·2^52, well inside BIGINT,
summed exactly in both engines; empty registers contribute 2^53 each. The
raw estimate α_m·m²/Σ2^{-M_j} is then ONE double division — no float
accumulation anywhere, so the DuckDB oracle matches bit for bit.

100 TB shape: map-side partial aggregation collapses every partition to
≤ m rows per column before the shuffle (a groupBy on (col_name, j) with
MAX — the textbook mergeable sketch), so the exchange carries m rows per
column and partition no matter the corpus size; ``hll_estimate_by`` then
reduces each column's m rows to one. Sketches merge across datasets by per-register MAX, which is what
makes them ledger-persistable (union two register tables, re-aggregate).

Several columns share ONE scan (``hll_distinct_multi``): each row explodes
to one (col_name, j, rank) entry per column, so a one-column sketch is the
same call with a one-element column list.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe_spark.operators.dedup import base_hash60

#: Count-Min rows and counters per row, and HLL register-index bits: the
#: sketch defaults, and the only shapes the SQL mirrors generate
CM_DEPTH = 4
CM_WIDTH = 1024
HLL_P = 8

#: rank cap: the hash contributes 60 - p bits; with p=8 we use the top 52
#: bits, so ranks run 1..52 with 53 meaning "all examined bits zero".
_RANK_BITS = 52


def _alpha(m: int) -> float:
    """Standard HLL bias constant (Flajolet et al. 2007, fig. 3)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _bit_length(v: Column, max_bits: int) -> Column:
    """Integer bit length of a non-negative column as Σ (v >= 2^k) — pure
    comparisons, no libm log2, identical in any SQL engine."""
    out = F.lit(0)
    for k in range(max_bits):
        out = out + (v >= F.lit(1 << k)).cast("int")
    return out


def _lc_table(m: int) -> list[float]:
    """Linear-counting literals ln(m / z) for z = 1..m-1 EMPTY registers
    (E* = m·ln(m/Z), Z the zero-register count), computed ONCE
    driver-side so both engines multiply the SAME doubles — the package's
    standard escape from libm ulp divergence (cf. unigram_logprob /
    dsir_scores in `operators/textstats.py`). m doubles: trivially
    broadcastable at any p ≤ 14."""
    import math

    return [math.log(m / v) for v in range(1, m)]


def cm_sketch(
    df: DataFrame, col: str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """Count-Min sketch of a column: (i, pos, c) counter table, ≤ d·w
    rows. Row i's hash is the shared md5 base hash under salt ``cm{i}:``
    — the same engine-portable spec rule as the HLL, so any engine
    rebuilds identical counters. Mergeable by SUM on (i, pos).

    100 TB shape: the d-way explode is map-side and the partial hash
    aggregate collapses every partition to ≤ d·w counter rows before the
    exchange — constant shuffle volume per partition regardless of input
    size (the mergeable-sketch property again)."""
    if depth < 1 or width < 2:
        raise ValueError(f"bad sketch dims: depth={depth} width={width}")
    s = F.col(col).cast("string")
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (
                    base_hash60(F.concat(F.lit(f"cm{i}:"), s)) % width
                ).cast("int").alias("pos"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("r"))
        .select("r.i", "r.pos")
        .groupBy("i", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cm_query(
    sketch: DataFrame, values: list[str], depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """Point-estimate counts for ``values`` from a Count-Min sketch:
    est(v) = min over rows i of counter[i][h_i(v)] (the classic
    one-sided overestimate; missing counters read as 0). The probe set
    is a tiny Arrow-built table (a local relation, so no Python worker
    scans it) joined against the ≤ d·w-row sketch —
    nothing scales with the original corpus."""
    if not values:
        raise ValueError("values must be non-empty")
    spark = sketch.sparkSession
    probes = spark.createDataFrame(
        pa.Table.from_pydict({"value": values}), "value string"
    ).select(
        "value",
        F.explode(
            F.array(*[F.lit(i) for i in range(depth)])
        ).alias("i"),
    ).select(
        "value",
        "i",
        (
            base_hash60(
                F.concat(
                    # per-row salt must match cm_sketch's
                    F.format_string("cm%d:", F.col("i")),
                    F.col("value"),
                )
            )
            % width
        ).cast("int").alias("pos"),
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "pos"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est"))
    )


def cm_oracle_sql(table: str, col: str, values: list[str]) -> str:
    """DuckDB mirror of ``cm_query(cm_sketch(table.col), values)`` at the
    default shape (:data:`CM_DEPTH` × :data:`CM_WIDTH`) — same md5 salt
    spec, same integer counters."""
    depth, width = CM_DEPTH, CM_WIDTH
    probe_rows = ", ".join(
        "('%s')" % v.replace("'", "''") for v in values
    )
    h = (
        "CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || ':' || s), 1, 15)"
        " AS BIGINT)"
    )
    return f"""
WITH ds AS (SELECT unnest(range({depth})) AS i),
src AS (SELECT CAST({col} AS VARCHAR) AS s FROM {table}),
sketch AS (
    SELECT i, CAST({h} % {width} AS INTEGER) AS pos, COUNT(*) AS c
    FROM src CROSS JOIN ds GROUP BY 1, 2
),
probes AS (
    SELECT v.s AS value, ds.i,
           CAST({h} % {width} AS INTEGER) AS pos
    FROM (VALUES {probe_rows}) v(s) CROSS JOIN ds
)
SELECT value, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS est
FROM probes LEFT JOIN sketch USING (i, pos)
GROUP BY value
"""


def hll_oracle_sql(table: str, col: str) -> str:
    """DuckDB mirror of ``col``'s row of :func:`hll_distinct_multi`
    (without the ``col_name`` column), same spec constants (``p`` =
    :data:`HLL_P`)."""
    m = 1 << HLL_P
    rank_bits = 60 - HLL_P
    b = _RANK_BITS + 1
    bitlen = " + ".join(
        f"CASE WHEN v >= {1 << k} THEN 1 ELSE 0 END" for k in range(rank_bits)
    )
    est_num = repr(_alpha(m) * (m * m) * float(1 << b))
    # 'e0'-suffix each literal so DuckDB types it DOUBLE at parse: a bare
    # decimal literal becomes DECIMAL, and unifying 255 DECIMAL scales
    # inside one list literal rounds some elements before any cast
    lc_list = ", ".join(
        r if "e" in (r := repr(x)) else r + "e0" for x in _lc_table(m)
    )
    raw = (
        f"{est_num} / CAST(used_sum + ({m} - v_used) * "
        f"(CAST(1 AS BIGINT) << {b}) AS DOUBLE)"
    )
    est = (
        f"CASE WHEN ({raw}) <= {repr(2.5 * m)} AND v_used < {m} "
        f"THEN CAST({m} AS DOUBLE) * "
        f"([{lc_list}])[CAST({m} - v_used AS INTEGER)] "
        f"ELSE ({raw}) END"
    )
    return f"""
WITH hashed AS (
    SELECT CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT) AS h
    FROM {table}
), ranked AS (
    SELECT CAST(h % {m} AS INTEGER) AS j,
           CAST({rank_bits + 1} - ({bitlen}) AS INTEGER) AS rank
    FROM (SELECT h, h // {m} AS v FROM hashed)
), regs AS (
    SELECT j, MAX(rank) AS m_j FROM ranked GROUP BY j
), folded AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v_used,
           CAST(SUM(CAST(1 AS BIGINT) << ({b} - m_j)) AS BIGINT) AS used_sum
    FROM regs
)
SELECT CAST({m} AS BIGINT) AS m, v_used,
       CAST(used_sum + ({m} - v_used) * (CAST(1 AS BIGINT) << {b}) AS BIGINT)
           AS denom_scaled,
       {est} AS estimate
FROM folded
"""


def hll_registers_multi(
    df: DataFrame, cols: list[str], p: int = HLL_P
) -> DataFrame:
    """The mergeable sketch: (col_name, j, m_j) register rows, ≤ 2^p per
    column, for SEVERAL columns from ONE scan. Each row explodes to
    (col_name, j, rank) — map-side, so at 100 TB this is the difference
    between one pass over the corpus and one pass PER profiled column.
    A column's registers do not depend on which other columns share the
    scan (test-asserted)."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if not 4 <= p <= 14:
        raise ValueError(f"p out of range: {p}")
    m = 1 << p
    rank_bits = 60 - p
    entries = []
    for c in cols:
        h = base_hash60(F.col(c).cast("string"))
        v = F.floor(h / m).cast("long")
        entries.append(
            F.struct(
                F.lit(c).alias("col_name"),
                (h % m).cast("int").alias("j"),
                (F.lit(rank_bits + 1) - _bit_length(v, rank_bits))
                .cast("int")
                .alias("rank"),
            )
        )
    return (
        df.select(F.explode(F.array(*entries)).alias("e"))
        .select("e.col_name", "e.j", "e.rank")
        .groupBy("col_name", "j")
        .agg(F.max("rank").alias("m_j"))
    )


def hll_estimate_by(registers: DataFrame, p: int = HLL_P) -> DataFrame:
    """Fold each column's registers into one row: (col_name, m, v_used,
    denom_scaled, estimate). ``denom_scaled`` = Σ 2^{B-M_j} over all m
    registers (empty ⇒ M_j = 0 ⇒ 2^B), B = 61 - p; exact BIGINT.
    ``estimate`` is the HLL estimator α_m·m²·2^B / denom_scaled (one IEEE
    division), with the standard small-range linear-counting correction
    m·ln(m/V) when raw ≤ 2.5m and empty registers remain (the ln comes
    from :func:`_lc_table` literals, not runtime libm). No large-range
    correction: 52-bit ranks don't saturate at realistic cardinalities."""
    m = 1 << p
    b = _RANK_BITS + 1  # with p=8: 53
    # pyspark's F.shiftleft only takes a Python-int shift; the SQL form
    # accepts a column shift (same JVM ShiftLeft expression)
    scaled = F.expr(f"shiftleft(CAST(1 AS BIGINT), {b} - m_j)")
    agg = registers.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias("v_used"),
        F.sum(scaled).alias("_used_sum"),
    )
    denom = (
        F.col("_used_sum")
        + (F.lit(m) - F.col("v_used")) * F.lit(1 << b).cast("long")
    )
    est_num = _alpha(m) * (m * m)
    raw = F.lit(est_num * float(1 << b)) / denom.cast("double")
    lc = F.lit(float(m)) * F.element_at(
        F.lit(_lc_table(m)), (F.lit(m) - F.col("v_used")).cast("int")
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("v_used") < m), lc
    ).otherwise(raw)
    return agg.select(
        "col_name",
        F.lit(m).cast("long").alias("m"),
        F.col("v_used"),
        denom.cast("long").alias("denom_scaled"),
        est.alias("estimate"),
    )


def hll_distinct_multi(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cardinality estimates for several columns in ONE corpus pass, with
    ``p`` = :data:`HLL_P`."""
    return hll_estimate_by(hll_registers_multi(df, cols, HLL_P), HLL_P)
