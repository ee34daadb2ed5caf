"""Watermarked event-time windowed aggregation — the streaming-only
operator family the reference cannot have (its file offsets are totally
ordered, so late data does not exist there; `SURVEY.md §2.5`). On a real
ingest bus (Kafka → this engine) events DO arrive late, and the scale
posture is Spark's own: bounded state via watermark, windowed partial
aggregation, append-mode emission once a window is final.

Scale notes: state is keyed by (window, key) and sized by
|keys| × windows-in-watermark — the watermark delay is the knob that
bounds executor state at 10^12 events. The aggregation is a normal
partial+final hash agg per micro-batch; nothing here is per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_turn_counts(
    stream_df: DataFrame,
    window_minutes: int = 10,
    watermark_minutes: int = 30,
) -> DataFrame:
    """Tumbling event-time window counts with a late-data watermark.

    Rows later than ``watermark_minutes`` behind the max seen event time
    are dropped (state for their window has been finalized and evicted) —
    the documented trade of bounded state for bounded lateness. Works on a
    streaming OR batch DataFrame (batch mode ignores the watermark, which
    is exactly Spark's unified-semantics contract: the batch result equals
    the stream result when no data is late).

    ``stream_df``: (``ts``, ``role``, ``text``, ...); counts per
    (window, ``role``)."""
    return (
        stream_df.withWatermark("ts", f"{watermark_minutes} minutes")
        .groupBy(
            F.window(F.col("ts"), f"{window_minutes} minutes").alias("win"),
            F.col("role"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("chars"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "role",
            "n_turns",
            "chars",
        )
    )


def run_windowed_stream(
    spark,
    src_dir: str,
    out_dir: str,
    window_minutes: int = 10,
    watermark_minutes: int = 30,
    timeout_sec: int = 300,
) -> int:
    """Drain ``src_dir`` through the watermarked windowed aggregation in
    append mode (a row is emitted exactly once, when its window passes the
    watermark — the micro-batch analogue of "window is final"). Returns
    the number of finalized window rows written; a drain that outlives
    ``timeout_sec`` stops the query and raises ``TimeoutError``."""
    import os

    from logpipe_spark.streaming.drive import _await_drain
    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src_dir)
    agg = windowed_turn_counts(stream, window_minutes, watermark_minutes)
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start(os.path.join(out_dir, "data"))
    )
    _await_drain(q, timeout_sec)
    data = os.path.join(out_dir, "data")
    return spark.read.parquet(data).count() if os.path.isdir(data) else 0


def session_window_stats(
    stream_df: DataFrame,
    gap_minutes: int = 30,
    watermark_minutes: int = 60,
    key_col: str = "conv_id",
) -> DataFrame:
    """Event-time SESSION windows — dynamic-length windows that extend as
    long as consecutive events per key arrive within ``gap_minutes`` of
    each other, and close after a quiet gap (Spark's native
    ``session_window``, the streaming counterpart of the batch
    ``sessionize`` query's lag-gap rule). Returns one row per closed
    session: (key, session_start, session_end, n_events, chars).

    Works on a streaming OR batch frame (unified semantics); on a stream
    the watermark both drops too-late events and lets a session FINALIZE
    — a session can only be emitted once event time passes its end + gap
    + watermark, which is why append mode requires the watermark at all.

    Scale: state is one open session per active key (merged as events
    extend it) — |active keys| × one row, evicted at close; the merge is
    Spark-native session consolidation, no custom state code.

    ``stream_df``: (``ts``, ``text``, ``key_col``, ...)."""
    return (
        stream_df.withWatermark("ts", f"{watermark_minutes} minutes")
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias(
                "sw"
            ),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.length("text")).alias("chars"),
        )
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "chars",
        )
    )
