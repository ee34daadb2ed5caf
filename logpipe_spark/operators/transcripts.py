"""Transcript-shaped corpus operators: conversation reconstruction and
loss-mask spans.

The reference forwards each log line independently; a transcript corpus
(row per turn: conversation key, turn order, role, text) needs the
opposite move before any document-level stage can run — dedup,
decontamination, quality scoring, and packing all operate on the
ASSEMBLED conversation, not on single turns. And a chat-SFT training
pipeline needs the inverse metadata: where each turn lands inside the
assembled document, so the loss can be masked to assistant spans only.

Scale design:

- ``assemble_documents``: ONE hash shuffle on the conversation key with
  map-side partial aggregation, no window. Spark's ``collect_list`` is
  NOT ordering-deterministic (it concatenates partition buffers in
  arrival order), so the contract is ``array_sort`` over
  ``struct(order, text)`` — deterministic everywhere, including under
  AQE re-partitioning and speculative retries.
- ``turn_spans``: a prefix-sum window PARTITIONED BY the conversation —
  the natural bounded key (conversations are 10¹-10³ turns, never a
  corpus-scale skew group), so the per-group sort that makes
  ``quota_sample``'s default plan weak is harmless here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assemble_documents(df: DataFrame) -> DataFrame:
    """One document per conversation: turns joined by ``\\n`` in
    ``turn_idx`` order, plus the turn count. ``df``: (``conv_id``,
    ``turn_idx``, ``text``); returns (conv_id, doc, n_turns)."""
    sorted_turns = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
    )
    return df.groupBy("conv_id").agg(
        F.concat_ws("\n", sorted_turns.getField("text")).alias("doc"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def turn_spans(df: DataFrame, sep: str = "\n", unit: str = "chars") -> DataFrame:
    """Span of every turn inside its assembled document (same ``sep``
    convention as ``assemble_documents``): 0-based half-open
    [start, end). The loss-mask ingredient — a chat-SFT pipeline trains
    on the spans whose ``role`` is the assistant and masks the rest.

    ``unit="chars"`` (default): character offsets,
    ``doc[start:end] == text``. ``unit="tokens"``: whitespace-token
    index offsets — ``doc.split()[start:end]`` equals the turn's own
    tokens, the form a TOKEN budget (sequence_pack / chunk_documents)
    masks by. Token spans require a whitespace ``sep`` (the separator
    must contribute zero tokens) and turns are measured by their own
    non-empty whitespace tokens, so empty turns own an empty span.

    Exact integers only (lengths/counts and a prefix sum), so any
    engine reproduces it bit-for-bit.

    ``df``: (``conv_id``, ``turn_idx``, ``role``, ``text``)."""
    if unit == "chars":
        ln = F.length(F.col("text")).cast("long")
        gap = len(sep)
    elif unit == "tokens":
        if sep.strip() != "":
            raise ValueError(
                f"unit='tokens' needs a whitespace sep, got {sep!r}"
            )
        ln = F.size(
            F.filter(
                F.split(F.col("text"), r"[ \t\n\r]+"),
                lambda x: x != F.lit(""),
            )
        ).cast("long")
        gap = 0
    else:
        raise ValueError(f"unit must be 'chars' or 'tokens', got {unit!r}")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(ln + gap).over(w), F.lit(0)).cast("long")
    return df.select(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("role"),
        start.alias("start"),
        (start + ln).alias("end"),
    )
