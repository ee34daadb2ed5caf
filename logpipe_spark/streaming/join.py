"""Watermarked stream-stream interval join — correlating two live
streams (request↔response, call↔result, send↔ack) without ever holding
either stream whole.

The reference correlates records only within one totally-ordered file
stream (offsets, `logpipe-input-file.c:1901-1925`); on a real bus the
two halves of a correlation arrive on DIFFERENT streams with skew, and
the join state must be bounded or a 100 TB/day deployment OOMs. Spark's
stream-stream join is the right engine shape: both sides are watermarked,
the join condition carries an explicit event-time interval, and the
state store evicts a row as soon as the other side's watermark passes
the end of its match window — state is O(rate × interval), independent
of stream length.

Unified semantics: on batch DataFrames the same function degrades to a
plain interval equi-join (watermarks are no-ops in batch), which is what
the parity test asserts — stream result == batch result when nothing is
late (`tests/test_streaming.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    within_minutes: int = 10,
    watermark_minutes: int = 30,
    how: str = "inner",
) -> DataFrame:
    """Join ``right`` rows to ``left`` rows sharing the ``on`` keys whose
    event time ``ts`` falls in ``[left.ts, left.ts + within_minutes]`` — the
    "response arrives after the request, within a bounded interval"
    correlation.

    Both inputs are watermarked (required by Spark for state eviction in
    stream-stream joins; harmless in batch). The equi-keys keep the join
    a hash join co-partitioned on ``on`` — the interval is a post-probe
    range predicate, NOT the join key, so there is no range-explosion.
    Non-key right columns are suffixed with ``_r`` to keep the
    output schema collision-free.

    ``how``: ``inner`` or ``left_outer`` (outer emission happens only
    once the right watermark passes a left row's interval — Spark's
    documented outer-join delay)."""
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type {how!r}")
    if not on:
        raise ValueError("stream-stream joins need at least one equi-key")

    lw = left.withWatermark("ts", f"{watermark_minutes} minutes")
    renamed = right
    for c in right.columns:
        if c not in on:
            renamed = renamed.withColumnRenamed(c, c + "_r")
    rts = "ts_r" if "ts" not in on else "ts"
    rw = renamed.withWatermark(rts, f"{watermark_minutes} minutes")

    cond = None
    for k in on:
        eq = lw[k] == rw[k]
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (rw[rts] >= lw["ts"])
        & (rw[rts] <= lw["ts"] + F.expr(f"INTERVAL {within_minutes} MINUTES"))
    )
    joined = lw.join(rw, cond, how)
    # drop the duplicated right-side key columns (equal by construction;
    # on left_outer they are NULL for unmatched rows — the left copy wins)
    return joined.drop(*[rw[k] for k in on])
