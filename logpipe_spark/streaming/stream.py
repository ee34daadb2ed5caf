"""Structured Streaming flavor of the pipeline — the true analogue of
logpipe's inotify tail loop.

Reference mapping:

- inotify-tail of a growing directory (`logpipe-input-file.c:1473-1710`)
  → `spark.readStream` file source: new files under the source dir are
  discovered per micro-batch; `Trigger.AvailableNow` = "drain everything
  seen so far then stop" (the batch-resume duality of §3.2).
- offset commit after outputs accept (`logpipe-input-file.c:1901-1925`)
  → the streaming checkpoint: file-source offsets commit only after the
  `foreachBatch` body returns, so a crash replays the uncommitted batch
  (at-least-once per batch; sinks written per-batch-id are idempotent).
- monitor restart loop (`src/monitor.c:89-181`) → just restart the query
  with the same checkpointLocation.

Each micro-batch runs the batch pipeline's stage chain (parse → enrich →
route) and commits through its ``write_batch``, keyed by batch id instead
of snapshot: ``data/batch=<id>/sink=<s>/`` and ``lineage/batch=<id>/`` —
one write-and-lineage path for both execution modes. A replayed batch id
clears its directory and writes it again, so the replay is idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logpipe_spark.operators.sinks import local_path
from logpipe_spark.pipeline import build_stage_chain, write_batch
from logpipe_spark.sources.readers import snapshot_stream
from logpipe_spark.streaming.drive import _await_drain

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def run_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    dim: DataFrame,
    rules: list[dict],
    available_now: bool = True,
    timeout_sec: int = 300,
    trigger_interval_us: int | None = None,
) -> dict:
    """Micro-batch the source dir through the pipeline into partitioned
    sinks + per-batch lineage, exactly once per batch id.

    ``out_dir`` follows ``pipeline.run_pipeline``'s path contract: it must
    be POSIX-visible, because the per-file lineage is read from the written
    footers and written driver-side. A ``file:`` URI with no host or
    ``localhost`` is taken as its plain path; any other host or scheme
    raises ValueError before the query starts.

    ``trigger_interval_us``: continuous-tail poll period (the reference's
    min/max_usleep backoff, `logpipe-input-file.c` config via
    usleep_atou64) — used when ``available_now`` is False; parse config
    strings like "100ms" with functions.units.parse_duration_us.

    Returns {"batches": n} after the query drains (available_now; a drain
    that outlives ``timeout_sec`` stops the query and raises
    ``TimeoutError``) or, in tail mode, when ``timeout_sec`` ends it."""
    out_dir = local_path(out_dir)
    seen = {"batches": 0}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = build_stage_chain(batch_df, dim, rules)
        write_batch(
            routed.withColumn("batch", F.lit(batch_id)), "batch", [batch_id],
            out_dir, src_paths={}, run_id=None,
        )
        seen["batches"] += 1

    writer = (
        snapshot_stream(spark, src_dir, TRANSCRIPT_SCHEMA)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval_us:
        ms = max(trigger_interval_us // 1000, 1)
        writer = writer.trigger(processingTime=f"{ms} milliseconds")
    query = writer.start()
    if available_now:
        _await_drain(query, timeout_sec)
        return seen
    # Spark rejects a wait of 0 s: a timeout of 0 or less has already
    # expired, as in _await_drain. The query stops however the wait ends.
    try:
        if timeout_sec > 0:
            query.awaitTermination(timeout_sec)
    finally:
        if query.isActive:
            query.stop()
    return seen


def read_stream_sinks(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every row the stream routed, with its sink and batch columns. Holds
    ``out_dir`` to ``run_stream``'s path contract."""
    data_root = os.path.join(local_path(out_dir), "data")
    return spark.read.option("basePath", data_root).parquet(data_root)
