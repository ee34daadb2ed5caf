"""Streaming exact dedup — the streaming half of the dedup family
(`operators/dedup.py`): on a live ingest bus the same line arrives more
than once (at-least-once producers, the reference's re-send after
reconnect, `logpipe-input-tcp.c` reconnect path), and dropping replays is
a stateful streaming operator, not a batch groupBy.

Scale posture: Spark keeps one state row per key seen within the
watermark; the watermark delay bounds state exactly like the windowed
aggregation (`streaming/windowed.py`). Keys should be a content hash, not
raw text — 16 bytes of state per doc instead of the document."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_exact_dedup(
    stream_df: DataFrame,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Drop replayed rows within the watermark window.

    Dedup key = explicit ``key_cols`` or md5(``text``) (content identity, the
    same key the batch exact-dedup uses). Uses
    ``dropDuplicatesWithinWatermark``: unlike plain dropDuplicates on a
    stream, state for a key is EVICTED once the watermark passes it, so
    state is bounded by (arrival rate × watermark) instead of growing
    forever — the documented at-least-once → exactly-once-within-horizon
    trade. A replay later than the watermark is NOT caught (the batch
    dedup pass downstream is the backstop, same two-tier posture as the
    snapshot ledger)."""
    keyed = stream_df.withWatermark(ts_col, watermark)
    if key_cols is None:
        keyed = keyed.withColumn("_dedup_key", F.md5(F.col("text")))
        key_cols = ["_dedup_key"]
    return keyed.dropDuplicatesWithinWatermark(key_cols).drop("_dedup_key")


def stream_incremental_dedup(
    stream_df: DataFrame,
    index: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming half of :func:`~logpipe_spark.operators.dedup.
    incremental_dedup`: admit only documents whose content fingerprint is
    (a) not in the STATIC index of everything accepted by prior batch
    runs and (b) not already seen in-stream within the watermark.

    Two-tier state, mirroring the batch operator's two checks: the prior
    corpus lives in ``index`` (one ``fingerprint`` column — the exact shape
    ``fingerprint_index`` writes), joined stream-static left_anti, which
    Spark re-plans per micro-batch (a small index broadcasts; a huge one
    becomes a shuffled join of the BATCH against it — either way the
    stream never holds corpus state); within-stream replays are dropped
    by ``dropDuplicatesWithinWatermark`` on the same fingerprint, so
    streaming state stays (arrival rate × watermark) × 32 bytes
    regardless of corpus size. Same late-replay caveat as
    :func:`stream_exact_dedup`: the periodic batch incremental_dedup
    pass is the backstop, and its fingerprints are bit-identical
    (shared ``bow_fingerprint``), so admitting batches grown here into
    the persisted index is exact.

    ``stream_df``: (``ts``, ``text``, ...)."""
    from logpipe_spark.operators.dedup import bow_fingerprint

    fp = stream_df.withColumn("_fp", bow_fingerprint(F.col("text")))
    seen = index.select(F.col("fingerprint").alias("_fp")).distinct()
    fresh = fp.join(seen, "_fp", "left_anti")
    return (
        fresh.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .withColumnRenamed("_fp", "fingerprint")
    )
