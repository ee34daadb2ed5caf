"""Drive a streaming operator over a STATIC parquet table and hand back
its result as a batch DataFrame — the replay harness that makes the
streaming surface value-checkable against a SQL oracle.

Why this exists: the stateful operators (conversation assembly, streaming
dedup, stream-stream interval join) are engine-native Structured Streaming
plans; their correctness contract is "stream result == the batch twin when
nothing is late" (tests/test_stateful.py, tests/test_streaming.py). This
module packages that contract as a repeatable drive: stage the static
table as a file-stream source, run the operator with
``Trigger.AvailableNow`` (drain everything, then stop — the reference's
one-shot `logpipe -f conf` batch mode over a directory of closed files,
`src/logpipe.c` main loop at EOF), and read the sink back.

Event-time timeouts need special care: the watermark only advances at
micro-batch BOUNDARIES, and ``AvailableNow`` stops when the data is
drained — a conversation idle at end-of-stream would simply never flush
(asserted in tests/test_stateful.py). So the stage step plants SENTINEL
files carrying far-future timestamps, mtime-ordered AFTER the real data
with ``maxFilesPerTrigger=1``: the first sentinel batch hoists the
watermark past every real event, the second gives the state store a batch
in which those timeouts actually fire. Sentinel rows are keyed under a
reserved id and filtered from the result.

At 100 TB this harness is test scaffolding only — production streams read
a live bus; the operators themselves are the scale surface (state bounded
by watermark/gap, keyed shuffles on the natural correlation key).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

#: reserved key for sentinel rows; anything keyed on it is dropped from
#: the read-back result
SENTINEL_ID = -1


def stage_stream_source(
    parquet_file: str,
    copies: int = 1,
    sentinels: "list | None" = None,
    workdir: str | None = None,
) -> str:
    """Materialize a file-stream source directory for ``parquet_file``.

    - ``copies``: number of symlinks to the real file (2 simulates an
      at-least-once producer replaying the whole feed);
    - ``sentinels``: pandas DataFrames (matching the table schema) each
      written as its own parquet file with a strictly LATER mtime than
      the real data, so ``maxFilesPerTrigger=1`` processes them as
      trailing single-file micro-batches (watermark advancement batches).

    Symlinks keep the staging O(1) regardless of table size — the
    file-stream source stats through the link, so the real file's old
    mtime orders it before every sentinel.
    """
    d = workdir or tempfile.mkdtemp(prefix="lps_stream_src_")
    for i in range(copies):
        os.symlink(parquet_file, os.path.join(d, f"data_{i}.parquet"))
    base = os.stat(parquet_file).st_mtime + 1e6  # far after the real file
    for j, pdf in enumerate(sentinels or []):
        p = os.path.join(d, f"zz_sentinel_{j}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (base + j, base + j))
    return d


def _await_drain(query, timeout_s: float) -> None:
    """Wait up to ``timeout_s`` for an AvailableNow ``query`` to finish.

    A query still running then is stopped and ``TimeoutError`` raised: its
    sink holds only part of the input, and a normal return would let a
    caller read it as complete. Spark rejects a wait of 0 s, so a
    ``timeout_s`` of 0 or less counts as already expired."""
    if not (timeout_s > 0 and query.awaitTermination(timeout_s)):
        query.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s} s")


def run_available_now(result_stream: DataFrame, timeout_s: float = 600) -> str:
    """Run ``result_stream`` to a parquet sink in append mode with
    AvailableNow and return the sink path. A files-per-trigger cadence is
    a source option, set at read time (:func:`read_stream_table`). A drain
    that outlives ``timeout_s`` raises ``TimeoutError`` (:func:`_await_drain`)."""
    out = tempfile.mkdtemp(prefix="lps_stream_out_") + "/sink"
    ckpt = tempfile.mkdtemp(prefix="lps_stream_ckpt_") + "/" + uuid.uuid4().hex
    q = (
        result_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, timeout_s)
    return out


def read_stream_table(
    spark: SparkSession,
    src_dir: str,
    schema,
    max_files_per_trigger: "int | None" = None,
) -> DataFrame:
    """Open ``src_dir`` as a file-stream source with an explicit schema
    (file streams never infer). ``max_files_per_trigger=1`` gives the
    one-file-per-batch cadence the sentinel protocol needs."""
    r = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)
