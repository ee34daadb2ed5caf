"""Source builders — one per reference input plugin (SURVEY §2.1).

Each returns a DataFrame (batch) or streaming DataFrame; endpoints that
don't exist in this sandbox (Kafka brokers, TCP peers, live commands) are
real plan builders behind import/endpoint seams, exercised in tests only up
to plan construction.

| builder | reference plugin |
|---|---|
| snapshot_source / snapshot_stream | logpipe-input-file (inotify tail + offset ledger, `src-plugins/logpipe-input-file.c`) |
| kafka_source | logpipe-input-kafka (`src-plugins/logpipe-input-kafka.c:169-252`) |
| socket_source | logpipe-input-tcp (`src-plugins/logpipe-input-tcp.c:154-361`); the framing protocol ('@'+len+name+(len+block)*) is moot — rows are typed |
| exec_source | logpipe-input-exec popen reader (`src-plugins/logpipe-input-exec.c:94-200`) |
"""

from __future__ import annotations

import os
import subprocess
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logpipe_spark.globs import is_match


def select_input_files(
    src_dir: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> list[str]:
    """Source-level include/exclude glob walk — the reference's
    ``files..files8`` / ``exclude_files..exclude_files8`` directory filter
    (`src-plugins/logpipe-input-file.c:593-739`), with its exact
    semantics: a file survives iff its basename matches **every**
    configured include glob (AND — each non-matching filesN kills it) and
    **no** exclude glob (any match kills it).

    This prunes the *file list before the scan* — excluded files cost zero
    IO, the same way the reference never opens them (and the only way the
    filter actually pushes down: an input_file_name() predicate would read
    every row first). Spark-internal sidecars (_SUCCESS, dotfiles, .crc)
    are never data files and are skipped up front.

    Walk contract (matches the reference's single-directory readdir — it
    never recurses either): ``src_dir`` must be a FLAT local directory of
    data files. A nested layout raises rather than silently dropping the
    nested files, and a directory with no data files at all raises rather
    than returning [] — so an empty return always means "all files
    filtered out by the globs", which callers may legitimately commit as a
    zero-row snapshot, never "the walk missed the data"."""
    data_names: list[str] = []
    subdirs: list[str] = []
    for n in sorted(os.listdir(src_dir)):  # missing dir → FileNotFoundError
        if n.startswith((".", "_")):
            continue
        if os.path.isdir(os.path.join(src_dir, n)):
            subdirs.append(n)
        else:
            data_names.append(n)
    if subdirs:
        raise ValueError(
            f"select_input_files: {src_dir} contains subdirectories "
            f"{subdirs[:5]} — the include/exclude walk is flat (reference "
            "semantics, logpipe-input-file.c:584-745); point it at the leaf "
            "directory or read without file globs"
        )
    if not data_names:
        raise FileNotFoundError(
            f"select_input_files: no data files under {src_dir} (globs were "
            "never applied) — an empty snapshot directory is a source bug, "
            "not a filtered-out snapshot"
        )
    out = []
    for n in data_names:
        if include and not all(is_match(g, n) for g in include):
            continue
        if exclude and any(is_match(g, n) for g in exclude):
            continue
        out.append(os.path.join(src_dir, n))
    return out


def text_lines_source(
    spark: SparkSession,
    src_dir: str,
    include: list[str] | None = None,
) -> DataFrame:
    """Raw text-log scan — the reference's primary input is TAILING TEXT
    FILES (`logpipe-input-file.c` line framing); this is the batch scan of
    the same: newline-framed lines as (filename, text). Include globs
    prune the file LIST before the scan (same walk semantics as the
    parquet path). The filename rides the hidden ``_metadata`` column —
    no extra IO; per-file line numbers are intentionally NOT fabricated
    here (a distributed scan has no cheap in-file order — the reference's
    offset bookkeeping maps to the snapshot ledger, not row numbers)."""
    if include:
        paths = select_input_files(src_dir, include)
        if not paths:
            raise ValueError(f"all files under {src_dir} filtered out")
        reader = spark.read.text(paths)
    else:
        reader = spark.read.text(src_dir)
    return reader.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("filename"),
        F.col("value").alias("text"),
    )


def snapshot_source(
    spark: SparkSession, src_dir: str, snapshot_ids: Iterable[int] | None = None
) -> DataFrame:
    """Batch scan over snapshot partitions; with `snapshot_ids`, an
    incremental range scan (the Iceberg `start-snapshot-id` analogue)."""
    import os

    if snapshot_ids is None:
        return spark.read.option("basePath", src_dir).parquet(src_dir)
    paths = [os.path.join(src_dir, f"snapshot={s}") for s in snapshot_ids]
    return spark.read.option("basePath", src_dir).parquet(*paths)


def snapshot_stream(
    spark: SparkSession, src_dir: str, schema: T.StructType
) -> DataFrame:
    """File-source stream: new snapshot files are discovered per trigger
    (the inotify-create/modify analogue; offsets live in the checkpoint),
    at most 8 files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )


def kafka_source(spark: SparkSession, bootstrap_servers: str, topic: str) -> DataFrame:
    """Kafka stream from the earliest offsets (built-in connector). No
    broker in this sandbox — constructing the reader validates options;
    .load() requires the spark-sql-kafka package + a live broker."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )


def socket_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Line-framed TCP stream (the collector-side input-tcp analogue —
    Spark's shuffle replaces the collector tier; this exists for parity)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def exec_source(
    spark: SparkSession, argv: list[str], name: str = "exec",
    max_bytes: int = 64 * 1024 * 1024, timeout_sec: float = 300.0,
    strict: bool = True,
) -> DataFrame:
    """Run a command, ingest its stdout lines as (filename, line_no, text) —
    input-exec's popen loop done once, driver-side, then distributed.

    Driver-memory guard is BYTE-based (default 64 MB) and actually bounds
    driver memory: stdout is read incrementally from the pipe and the
    process is killed the moment the cap is crossed, so a command emitting
    10 GB never materializes 10 GB on the driver (``subprocess.run`` with
    capture_output would). Truncation lands on the last complete line.
    This source is for bounded commands only — for anything unbounded or
    large, write the command's output to files and use ``snapshot_stream``
    (the streaming file source), which never touches the driver.

    Failure surface (``strict=True``, the default): a watchdog
    timeout-kill or a non-zero exit raises RuntimeError instead of
    silently ingesting a partial/failed run. Byte-cap truncation is the
    *designed* bound and always keeps the partial output (the process is
    killed by us, so its exit status is not consulted). ``strict=False``
    keeps whatever arrived, matching the reference's best-effort popen
    reader (`logpipe-input-exec.c:94-200`)."""
    import threading

    proc = subprocess.Popen(argv, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    # hang guard: a command that stops producing but never exits would
    # block the pipe read forever — the watchdog kills it at the deadline
    # (read then returns b"" and the partial output is kept)
    timed_out = threading.Event()

    def _watchdog_fire():
        timed_out.set()
        proc.kill()

    watchdog = threading.Timer(timeout_sec, _watchdog_fire)
    watchdog.start()
    chunks: list[bytes] = []
    got = 0
    try:
        assert proc.stdout is not None
        while got <= max_bytes:  # read one byte past the cap to detect overflow
            chunk = proc.stdout.read(min(1 << 20, max_bytes + 1 - got))
            if not chunk:
                break
            chunks.append(chunk)
            got += len(chunk)
    finally:
        # truncated-by-cap is detected by the loop condition, not poll()
        killed_for_cap = got > max_bytes and not timed_out.is_set()
        if killed_for_cap:
            proc.kill()
        # a child at stdout EOF may not have exited yet: wait for its exit
        # status instead of killing it, with the watchdog still bounding
        # the wait
        try:
            proc.wait(timeout=timeout_sec + 30)
        except subprocess.TimeoutExpired:  # kill delivered but not reaped yet
            proc.kill()
            proc.wait(timeout=5)
        watchdog.cancel()
    if strict:
        if timed_out.is_set():
            raise RuntimeError(
                f"exec_source: {argv[0]} killed after {timeout_sec}s timeout "
                f"({got} bytes read) — partial output discarded (strict=True)"
            )
        if not killed_for_cap and proc.returncode != 0:
            raise RuntimeError(
                f"exec_source: {argv[0]} exited {proc.returncode} — output "
                "discarded (strict=True); pass strict=False for best-effort"
            )
    raw = b"".join(chunks)
    if len(raw) > max_bytes:
        raw = raw[:max_bytes]
        nl = raw.rfind(b"\n")
        raw = raw[: nl + 1] if nl >= 0 else raw
    lines = raw.decode("utf-8", "replace").splitlines()
    # an Arrow table is a local relation even with no rows, so scanning it
    # starts no Python worker (a list-built frame, or an empty pandas one,
    # is a PythonRDD)
    rows = pa.Table.from_pydict(
        {"filename": [name] * len(lines), "line_no": range(1, len(lines) + 1),
         "text": lines}
    )
    return spark.createDataFrame(rows, "filename string, line_no long, text string")
