"""Bucketed parquet tables: pay the shuffle once at write time, then join
and aggregate on the bucket key with NO Exchange, forever.

The north-star layout ("bucketed by conv_id with salting for hot
conversations") is exactly Spark's `bucketBy` on the catalog write path:
each bucket is `hash(key) % n_buckets`, recorded in the table metadata, so
Catalyst proves the required hash-distribution is already satisfied and
plans bucket-local SortMergeJoins / partial-final aggregations without a
shuffle. At 10^12 turns this is the difference between re-shuffling 100 TB
per downstream query and never shuffling the fact table again.

Reference mapping: logpipe has no storage layout at all (it forwards
bytes); this module is the Spark-native answer to the reference's
merge-by-key output grouping (`logpipe-output-file.c` key routing) done
once, durably, at the storage layer.

Scale notes:
- n_buckets is a data-size decision: target ~128-512 MB per bucket file.
  Too few buckets caps join parallelism; too many makes small files.
- `sort_cols` (e.g. turn_idx) lets Spark skip the per-task Sort for
  bucket+sort-merge reads when each bucket holds ONE file — write with a
  single task per bucket (repartition by the bucket key first) to get it,
  and opt in with spark.sql.legacy.bucketedTableScan.outputOrdering=true
  (off by default since SPARK-28595 because it forces one-file-per-bucket
  reads; write_bucketed guarantees exactly that layout).
- Both join sides must have the SAME bucket count (or an exact multiple,
  with spark.sql.bucketing.coalesceBucketsInJoin.enabled) on the SAME keys.
- Spark's bucketing hash (Murmur3) is not Hive-compatible; these tables
  are for this engine's own reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` as an external parquet table bucketed by
    ``bucket_cols`` into ``n_buckets``, registered in the session catalog
    as ``name`` (bucketing metadata lives in the catalog — reading the bare
    path later would lose it). Repartitions by the bucket key first so each
    bucket is a single file, which is what lets a later sorted read skip
    its Sort. Returns the catalog-backed DataFrame."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)
    return spark.table(name)


def colocated_join(
    spark: SparkSession,
    left_name: str,
    right_name: str,
    on: list[str],
) -> DataFrame:
    """Inner-join two same-bucketing catalog tables on their bucket key. With
    matching bucket specs this plans as a bucket-local SortMergeJoin —
    assert_no_exchange() in tests proves the zero-shuffle claim."""
    return spark.table(left_name).join(spark.table(right_name), on)
