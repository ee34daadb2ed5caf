"""Bucketed tables: the write-once-shuffle / join-and-agg-forever-free
contract, proven by plan inspection (no Exchange anywhere)."""

import pytest
from pyspark.sql import functions as F

from logpipe_spark.fixtures import gen_transcripts
from logpipe_spark.sources.bucketed import colocated_join, write_bucketed
from testkit import assert_no_exchange


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    turns = spark.createDataFrame(gen_transcripts(20_000))
    convs = (
        turns.select("conv_id").distinct()
        .withColumn(
            "conv_label",
            F.concat(F.lit("label_"), F.abs(F.xxhash64("conv_id")) % 7),
        )
    )
    write_bucketed(
        turns, "t_turns", str(root / "turns"), ["conv_id"], 8,
        sort_cols=["conv_id", "turn_idx"],
    )
    write_bucketed(convs, "t_convs", str(root / "convs"), ["conv_id"], 8)
    yield "t_turns", "t_convs"
    spark.sql("DROP TABLE IF EXISTS t_turns")
    spark.sql("DROP TABLE IF EXISTS t_convs")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    # forbid broadcast so the test proves the bucket-local SMJ, not a BHJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, left, right, ["conv_id"])
        plan = assert_no_exchange(joined)
        assert "SortMergeJoin" in plan
        # correctness: every turn matched its conv row
        assert joined.count() == spark.table(left).count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )


def test_bucketed_agg_has_no_exchange(spark, bucketed_tables):
    left, _ = bucketed_tables
    agg = spark.table(left).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns")
    )
    assert_no_exchange(agg)
    # values match the shuffled computation on the raw data
    raw = (
        spark.createDataFrame(gen_transcripts(20_000))
        .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    )
    got = {r["conv_id"]: r["n_turns"] for r in agg.collect()}
    want = {r["conv_id"]: r["n_turns"] for r in raw.collect()}
    assert got == want


def test_unbucketed_join_does_shuffle(spark, bucketed_tables):
    """Control: the same join on non-catalog data DOES contain an Exchange
    — i.e. the no-Exchange assert above is measuring bucketing, not AQE."""
    left, _ = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        turns = spark.createDataFrame(gen_transcripts(20_000))
        convs = turns.select("conv_id").distinct()
        plan = (
            turns.join(convs, "conv_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )


def test_sorted_single_file_buckets_skip_sort(spark, bucketed_tables):
    """Written with repartition(n, key) + sortBy: one file per bucket, so
    the bucket-sorted read can satisfy the SMJ's ordering requirement on
    the turns side without a Sort on the scan. Spark >= 3.0 ignores bucket
    sort order by default (SPARK-28595: honoring it forces one-file-per-
    bucket reads); opting in is correct here because write_bucketed
    guarantees exactly that layout."""
    left, right = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        joined = colocated_join(spark, left, right, ["conv_id"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the left (sorted-written) scan must not re-sort for the join;
        # count Sort operators: only the right (unsorted) side needs one
        assert plan.count("Sort ") <= 1, plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
