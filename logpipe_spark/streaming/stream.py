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

The per-batch body reuses the batch pipeline layer by layer: the stage
chain (parse → enrich → route), the observe() counters, the fan-out write
and the footer lineage — one code path for both execution modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

from logpipe_spark.operators.sinks import fan_out_write, local_path
from logpipe_spark.pipeline import _COUNTERS, build_stage_chain, counter_aggs

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


# stream lineage rows: the batch LINEAGE_DDL keyed by micro-batch id
# instead of (run_id, snapshot_id); partition_id = -1 is the whole-batch
# counters row, partition_id >= 0 one row per written file
STREAM_LINEAGE_DDL = (
    "batch_id long, partition_id int, rows_in long, parsed long, "
    "routed long, dropped long, sink string, file string"
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

    Returns {"batches": n} after the query drains (available_now) or
    times out."""
    out_dir = local_path(out_dir)
    checkpoint = os.path.join(out_dir, "_checkpoint")
    data_root = os.path.join(out_dir, "data")
    lineage_root = os.path.join(out_dir, "lineage")
    seen = {"batches": 0}

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # looked up at call time, so a wrapper installed on the sinks
        # module (the benchmark's tracer) sees the stream's calls too
        from logpipe_spark.operators.sinks import (
            file_lineage_rows,
            write_lineage_parquet,
        )

        # same single-action shape as batch mode: conservation counters
        # ride the sink write via observe() — no persist, no second pass
        routed = build_stage_chain(batch_df, dim, rules)
        obs = Observation(f"stream_lineage_b{batch_id}")
        routed = routed.observe(obs, *counter_aggs())
        batch_data = os.path.join(data_root, f"batch={batch_id}")
        # overwrite per batch dir = idempotent replay
        fan_out_write(routed, batch_data)
        m = obs.get
        lineage_rows = [
            (int(batch_id), -1, *(m[c] for c in _COUNTERS), None, None)
        ]
        if m["routed"]:
            # per-file granularity from the just-written parquet footers,
            # as in batch mode: the file count is bounded by sinks ×
            # upstream partitions per micro-batch, so a Spark job per batch
            # would cost more than the answer (BENCH.md r4)
            lineage_rows += [
                (int(batch_id), pid, None, None, n_routed, None, sink, f)
                for pid, sink, f, n_routed in file_lineage_rows(batch_data)
            ]
        write_lineage_parquet(
            lineage_rows, STREAM_LINEAGE_DDL,
            os.path.join(lineage_root, f"batch={batch_id}"),
        )
        seen["batches"] += 1

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval_us:
        ms = max(trigger_interval_us // 1000, 1)
        writer = writer.trigger(processingTime=f"{ms} milliseconds")
    query = writer.start()
    query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()
    return seen


def read_stream_sinks(spark: SparkSession, out_dir: str) -> DataFrame:
    data_root = os.path.join(out_dir, "data")
    return spark.read.option("basePath", data_root).parquet(data_root)
