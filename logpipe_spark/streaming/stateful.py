"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only cross-event state is the per-file offset/line ledger
(`struct TraceFile`, `src-plugins/logpipe-input-file.c:10-36`) — a running
counter per key that survives across reads. Generalized here: a per-
conversation running state (turns seen, chars seen, last turn index,
monotonicity violations) maintained across micro-batches by the streaming
state store, updated in Arrow batches.

At scale: state is partitioned by conv_id (the natural shuffle key);
GroupStateTimeout.NoTimeout because transcript conversations are bounded;
a production deployment with unbounded keys would use event-time timeout +
watermark to expire idle conversations.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "turns LONG, chars LONG, last_turn LONG, violations LONG"
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turns", T.LongType()),
        T.StructField("chars", T.LongType()),
        T.StructField("last_turn", T.LongType()),
        T.StructField("violations", T.LongType()),
    ]
)


def _track_conv(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Update the running ledger for one conversation (the TraceFile
    analogue: trace_offset → chars, trace_line → turns)."""
    if state.exists:
        turns, chars, last_turn, violations = state.get
    else:
        turns, chars, last_turn, violations = 0, 0, -1, 0
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        turns += len(pdf)
        chars += int(pdf["text"].str.len().sum())
        idx = pdf["turn_idx"].to_numpy()
        if len(idx):
            # vectorized monotonicity check: each index vs its predecessor
            # (the carried last_turn seeds the first comparison)
            import numpy as np

            prevs = np.concatenate(([last_turn], idx[:-1]))
            violations += int((idx <= prevs).sum())
            last_turn = int(idx[-1])
    state.update((turns, chars, last_turn, violations))
    yield pd.DataFrame(
        {
            "conv_id": [key[0]],
            "turns": [turns],
            "chars": [chars],
            "last_turn": [last_turn],
            "violations": [violations],
        }
    )


def conversation_ledger_stream(stream_df: DataFrame) -> DataFrame:
    """streaming transcripts → running per-conversation ledger rows
    (one row per conv per micro-batch, cumulative)."""
    return stream_df.groupBy("conv_id").applyInPandasWithState(
        _track_conv,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ASSEMBLE_STATE = "idxs ARRAY<LONG>, texts ARRAY<STRING>, max_ts_ms LONG"
ASSEMBLE_OUTPUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("doc", T.StringType()),
        T.StructField("n_turns", T.LongType()),
    ]
)


def _make_assembler(gap_ms: int):
    def _assemble(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            idxs, texts, _ = state.get
            order = sorted(range(len(idxs)), key=lambda i: (idxs[i], texts[i]))
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "doc": ["\n".join(texts[i] for i in order)],
                    "n_turns": [len(idxs)],
                }
            )
            return
        if state.exists:
            idxs, texts, max_ts = state.get
            idxs, texts = list(idxs), list(texts)
        else:
            idxs, texts, max_ts = [], [], 0
        for pdf in pdfs:
            idxs += [int(x) for x in pdf["turn_idx"]]
            texts += [("" if x is None else str(x)) for x in pdf["text"]]
            ms = pdf["ts"].astype("datetime64[ms]").astype("int64")
            max_ts = max(max_ts, int(ms.max()))
        state.update((idxs, texts, max_ts))
        state.setTimeoutTimestamp(max_ts + gap_ms)
        yield pd.DataFrame({"conv_id": [], "doc": [], "n_turns": []})

    return _assemble


def assemble_conversations_stream(
    stream_df: DataFrame,
    gap: str = "10 minutes",
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming row-per-turn → document-per-conversation assembly — the
    streaming form of ``operators.transcripts.assemble_documents``: turns
    accumulate in per-conversation state, and the assembled document is
    emitted exactly once, when the conversation has been idle past
    ``gap`` in EVENT time (watermark-driven GroupStateTimeout — the same
    close-on-idle rule as a session window, but the emission carries the
    full ordered reconstruction, not just stats).

    State is bounded by rate × gap (idle conversations are evicted at
    emission), keyed by conv_id — the natural shuffle key. Same ordering
    contract as the batch operator: turns sort by (turn_idx, text), so
    arrival order across micro-batches never changes the output.

    Watermark-lag note (same as every watermark test in this repo): the
    watermark advances AFTER a batch completes, so a conversation's
    document appears in the SECOND micro-batch after the data that
    out-waits its gap."""
    gap_ms = _parse_ms(gap)
    return (
        stream_df.withWatermark("ts", watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_assembler(gap_ms),
            outputStructType=ASSEMBLE_OUTPUT,
            stateStructType=ASSEMBLE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _parse_ms(interval: str) -> int:
    """'10 minutes' / '30 seconds' / '2 hours' → milliseconds."""
    qty, unit = interval.split()
    mult = {"second": 1_000, "minute": 60_000, "hour": 3_600_000}[
        unit.rstrip("s")
    ]
    return int(qty) * mult
