"""Data profiling: key-skew heavy hitters and per-column stats.

Why this belongs in a pipeline engine: every scale failure mode this repo
defends against elsewhere — skewed join keys (operators/route.py salting),
dominant groups (operators/corpus.py quota prefilter), hot shingles
(operators/dedup.py caps) — starts with a distribution question. These
operators answer it with ONE aggregation pass each, so the answer is cheap
enough to run before committing to a 100 TB plan.

The reference has no analogue (logpipe forwards bytes blind); this is part
of the Spark-first operational surface around it.

Scale shape: both operators are groupBy/agg only — map-side partial
aggregation, one shuffle keyed by the profiled column, and a driver-bound
result (top-k rows / one row per column). skew_profile's total row count
comes from summing the per-key counts (no second scan), joined on as a
broadcast scalar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def skew_profile(df: DataFrame, key_col: str, top_k: int = 20) -> DataFrame:
    """Exact top-``top_k`` heaviest keys of ``key_col`` with count and
    parts-per-million share (integer arithmetic — exactly SQL-mirrorable).
    Deterministic tie-break: count desc, then key asc.

    Read the output before planning: a top key above ~50000 ppm (5%) of a
    join or groupBy input is where AQE skew splitting stops being enough
    and explicit salting (route.salted_repartition) or a quota prefilter
    (corpus.quota_sample) earns its keep."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("n").cast("long").alias("n"),
            # integer division end-to-end: no float rounding to mirror
            F.expr("(n * 1000000) div total").cast("long").alias("ppm"),
        )
        .orderBy(F.col("n").desc(), F.col("key").asc())
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per profiled column: row count, null count, exact distinct
    count, and min/max rendered as strings. All aggregates run in a single
    job (one Aggregate over the full set of expressions — Spark computes
    them in one pass); the unpivot to rows is a stack() projection of the
    1-row result, so the whole profile costs one scan.

    Exact countDistinct shuffles by value per column; for a quick look at
    100 TB swap in approx_count_distinct — kept exact here because the
    contract oracle checks values bit-for-bit."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nulls_{c}"),
            F.countDistinct(F.col(c)).alias(f"_dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nulls_{c}, _dist_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_null, n_distinct, min_s, max_s)",
        "_rows AS n_rows",
    ).select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_s",
        "max_s",
    )


def grouped_topk(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    id_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-group top-``k`` rows by (``order_col`` DESC, ``id_col`` ASC)
    WITHOUT a per-group window sort. Returns (group, rnk, id, order value),
    rnk 1-based. Rows with a NULL order value are ignored (they can never
    rank), and ties are broken by id so the result is a unique set.

    Why not ``row_number`` over a window: Window.partitionBy(group) sorts
    EVERY row of a group inside one task — the same one-task-per-group
    cliff quota_sample's docstring warns about. Here both phases are hash
    AGGREGATES with bounded state (≤ k rows per key held in the partial
    buffer after the sort/slice), so a group 1000× the median just spreads
    across its salt buckets:

      phase 1: groupBy(group, md5-salt of id) → sorted top-k per bucket
      phase 2: groupBy(group) → merge the ≤ salt_buckets slices, re-slice k

    The merge input per group is ≤ salt_buckets·k rows — driver-math-free
    and skew-immune for any k·salt_buckets that fits a task (the usual
    top-10/top-100 regime). Deterministic: the md5 salt and the
    (value DESC, id ASC) comparator are data-derived, so repartitioning
    cannot change the answer."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1: {salt_buckets}")

    def _cmp(left: Column, right: Column) -> Column:
        lo, ro = left["o"], right["o"]
        li, ri = left["i"], right["i"]
        return (
            F.when(lo > ro, F.lit(-1))
            .when(lo < ro, F.lit(1))
            .when(li < ri, F.lit(-1))
            .when(li > ri, F.lit(1))
            .otherwise(F.lit(0))
        )

    item = F.struct(F.col(order_col).alias("o"), F.col(id_col).alias("i"))
    salt = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("long")
        % salt_buckets
    )
    part = (
        df.where(F.col(order_col).isNotNull())
        .select(F.col(group_col), salt.alias("_salt"), item.alias("_it"))
        .groupBy(group_col, "_salt")
        .agg(
            F.slice(F.array_sort(F.collect_list("_it"), _cmp), 1, k).alias(
                "_top"
            )
        )
    )
    merged = part.groupBy(group_col).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("_top")), _cmp), 1, k
        ).alias("_top")
    )
    return merged.select(
        F.col(group_col),
        F.posexplode("_top").alias("_pos", "_it"),
    ).select(
        group_col,
        (F.col("_pos") + 1).cast("long").alias("rnk"),
        F.col("_it.i").alias(id_col),
        F.col("_it.o").alias(order_col),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """Robust per-group outlier detection: the modified z-score
    0.6745·|x − median| / MAD > 3.5 (Iglewicz & Hoaglin '93) — median/MAD
    instead of mean/stddev so the outliers being hunted cannot mask
    themselves by inflating the scale estimate. The data-quality
    pre-flight for numeric columns (latency spikes, corrupt values,
    unit mix-ups) per service/type/domain.

    Returns the flagged rows (key, group, value, score). Groups whose
    MAD is 0 (over half the group identical) emit nothing — the score
    is undefined there, and a constant group's deviants are better
    caught by an exact predicate.

    Plan: two group-keyed exact ``percentile`` aggregates (median, then
    MAD over deviations) + one join of the tiny per-group stats back.
    Exact percentile buffers one group's values per task — fine for
    dimension-bounded groups (types/services); for corpus-sized groups
    swap the median source for the `quantile_buckets` histogram walk
    (same contract, bounded state) — the same trade `percentiles`
    documents."""
    g, v = F.col(group_col), F.col(value_col)
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    dev = df.join(med, group_col).withColumn(
        "_dev", F.abs(v.cast("double") - F.col("_med"))
    )
    stats = dev.groupBy(group_col).agg(
        F.expr("percentile(_dev, 0.5)").alias("_mad"),
        F.first("_med").alias("_med"),
    )
    scored = df.join(stats, group_col).withColumn(
        "_score",
        F.lit(0.6745) * F.abs(v.cast("double") - F.col("_med"))
        / F.col("_mad"),
    )
    return (
        scored.where((F.col("_mad") > 0) & (F.col("_score") > 3.5))
        .select(
            key_col, group_col, value_col,
            F.round("_score", 6).alias("score"),
        )
    )
