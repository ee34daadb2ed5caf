"""Sink fan-out + skew handling + per-partition lineage metrics.

Reference semantics being re-expressed:

- output-file "merge by same filename" append (`logpipe-output-file.c:208-286`)
  → one single-pass write partitioned by the routing key: every task streams
  its rows into per-sink directories; no per-sink re-read, no shuffle.
  (The reference achieves the same single-read/multi-write fan-out in
  `WriteAllOutputPlugins`, `src/output.c:256-277`.)
- output-tcp round-robin + failover (`logpipe-output-tcp.c:120-200`)
  → Spark shuffle + task retry; made explicit for hot keys via salted
  repartition (``repartition_salted``).
- HDFS day-dir naming (`logpipe-output-hdfs.c:195-213`) → partition columns;
  date partitioning is a one-liner for callers that want it.
- offset/line bookkeeping (`logpipe-input-file.c:1901-1925`) → the lineage
  table (LINEAGE_DDL): per-snapshot conservation counters collected by one
  observe() listener ON the batch's write action (see
  pipeline.run_pipeline) — zero extra passes, partition_id = -1 sentinel —
  plus per-file rows read driver-side from parquet footers
  (``file_lineage_rows``, ``source_file_rows``). Stream mode
  (streaming.stream) uses the same write and the same footer lineage.

Scale notes: ``fan_out_write`` is ONE job: scan → dynamic-partitioned
write. ``run_pipeline`` and the stream call it once per run (or
micro-batch) for all pending snapshots (partitioned by snapshot, then
sink), not once per snapshot, and with no pre-write shuffle: each scan
task writes the rows it parsed, so no row crosses the network between
parse and write, and output files are at most scan splits × sinks (one
per sink for a one-file snapshot; a snapshot Spark splits S ways gets up
to S files per sink, each a thin slice of a rare sink). At 10^12 rows the
thing to avoid is K separate filtered writes (K scans).
"""

from __future__ import annotations

import glob
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# batch pipeline lineage rows. Two granularities in one table:
#   partition_id = -1  → whole-snapshot conservation counters, collected by
#                        an observe() listener ON the write action (zero
#                        extra passes over the source);
#   partition_id >= 0  → one row per written file (sink + file + routed
#                        count, derived from the output parquet footers —
#                        see file_lineage_rows). rows_in/parsed/dropped are
#                        NULL at this granularity; per-file routed sums
#                        equal the sentinel row's routed.
LINEAGE_DDL = (
    "run_id string, snapshot_id long, partition_id int, "
    "rows_in long, parsed long, routed long, dropped long, "
    "sink string, file string"
)


def repartition_salted(
    df: DataFrame,
    num_partitions: int,
    key: str = "conv_id",
    salt_buckets: int = 8,
    salt_on: str = "turn_idx",
) -> DataFrame:
    """Shuffle by (key, hash(salt_on) % salt_buckets) so a hot key spreads
    over ``salt_buckets`` partitions instead of one straggler task.

    Verification-time ordering is unaffected: the (conv_id, turn_idx)
    invariant is asserted with an ORDER BY, never by partition layout
    (SURVEY.md §7.3 hard part (b))."""
    salt = F.pmod(F.hash(F.col(salt_on)), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col(key), salt)


def fan_out_write(
    routed_df: DataFrame,
    out_dir: str,
    sink_col: str = "sink",
    mode: str = "overwrite",
    extra_partition_cols: list[str] | None = None,
    shuffle_partitions: int | None = None,
    salt_on: str | None = None,
    salt_buckets: int = 8,
    max_records_per_file: int | None = None,
) -> None:
    """Single-pass dynamic-partitioned fan-out: every routed row lands in
    ``out_dir/sink=<name>/``. Dropped (NULL-sink) rows are filtered here —
    after lineage counted them.

    ``extra_partition_cols`` go BEFORE the sink: ``["snapshot"]`` gives
    ``out_dir/snapshot=<k>/sink=<name>/``, which is how ``run_pipeline``
    writes a whole batch of snapshots in one pass (``mode="append"``, after
    clearing the batch's own directories, so committed snapshots stay put).

    ``shuffle_partitions``: pre-write shuffle keyed by **(sink, salt)**.
    The shuffle has only sinks × salt_buckets distinct keys, so the file
    count is bounded by ~sinks × salt_buckets per value of the extra
    partition columns, regardless of task count
    (hash collisions can merge two key-groups into one task, which the
    writer re-splits per sink — the bound still holds), instead of
    tasks × sinks when the shuffle is keyed by a high-cardinality column.
    The salt spreads a hot sink over ``salt_buckets`` tasks instead of one
    straggler. Without it the write inherits upstream partitioning (fine
    when the input is already well-split and sinks are few).

    ``salt_on``: column to derive the salt from. Default None auto-picks:
    ``turn_idx`` when present (the transcript schema's cheap high-card
    column), else a hash over all columns — so the helper works on any
    DataFrame, not just transcripts (ADVICE r2).

    ``max_records_per_file``: upper-bound rows per output file (Spark's
    per-write knob, not a shuffle) — the write-time half of the
    small/large-file control; the read-time half is
    ``operators/compact.py`` for files that came out too SMALL. Set it
    from target_bytes / avg_row_bytes; 0/None = no cap."""
    parts = (extra_partition_cols or []) + [sink_col]
    df = routed_df.filter(F.col(sink_col).isNotNull())
    if shuffle_partitions:
        if salt_on is None and "turn_idx" in df.columns:
            salt_on = "turn_idx"
        salt_src = (
            F.hash(F.col(salt_on)) if salt_on is not None
            else F.xxhash64(*[F.col(c) for c in df.columns])
        )
        salt = F.pmod(salt_src, F.lit(salt_buckets))
        df = df.repartition(shuffle_partitions, F.col(sink_col), salt)
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*parts).parquet(out_dir)


def file_lineage_rows(data_dir: str, sink_col: str = "sink") -> list[tuple]:
    """Per-file routed-row counts from parquet FOOTERS, read driver-side
    with pyarrow — zero Spark jobs.

    ``run_pipeline``'s shuffle-free write leaves one file per (scan task,
    sink) that held a snapshot's rows — sinks × the snapshot's scan
    splits — so the per-file lineage is a handful of footer reads (~KBs
    each). A Spark job for it costs more than the answer (measured: a
    metadata-scan + Window job added ~13 s of cold-JVM codegen to the
    benched pipeline; this list comprehension adds milliseconds). Batch
    and stream mode both take their per-file lineage from here, so both
    share ``run_pipeline``'s POSIX path contract.

    Returns [(partition_id, sink, file, routed)] with partition_id a dense
    0-based index over files ordered by path. The routed count per file is
    the footer's num_rows: every row in a ``sink=<name>/`` directory was
    routed to that sink.
    """
    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    rows = []
    for i, f in enumerate(files):
        sink = None
        for part in os.path.relpath(f, data_dir).split(os.sep):
            if part.startswith(sink_col + "="):
                # Spark %-escapes special chars in partition dir names
                sink = unquote(part.split("=", 1)[1])
        rows.append((i, sink, f, pq.ParquetFile(f).metadata.num_rows))
    return rows


def local_path(path: str) -> str:
    """The POSIX path behind ``path``: a plain path as is, a ``file:`` URI
    as its path. The URI's authority must be empty or ``localhost``
    (``file:/x``, ``file:///x``, ``file://localhost/x`` all give ``/x``);
    any other host, like any other scheme (``hdfs://``, ``s3a://``, ...),
    raises ValueError — the footer lineage and the driver-side lineage
    write need a path the driver can os.open."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        if rest.startswith("//"):
            host, sep, tail = rest[2:].partition("/")
            if host.lower() not in ("", "localhost"):
                raise ValueError(
                    f"{path!r} names host {host!r}: a file: URI must name "
                    "this machine (no host, or localhost)"
                )
            return sep + tail or "/"
        return rest
    if "://" in path:
        raise ValueError(
            f"{path!r} is not a local path: lineage is read from parquet "
            "footers and written driver-side, so out_dir must be POSIX-visible"
        )
    return path


_ARROW_TYPES = {"string": "string", "long": "int64", "int": "int32"}


def write_lineage_parquet(rows: list[tuple], ddl: str, path: str) -> None:
    """Write a tiny lineage table driver-side with pyarrow — overwrite
    semantics (the dir is replaced).

    A ~50-row metadata artifact does not need a Spark job: a
    ``coalesce(1)`` write of a parallelized local collection runs ONE
    python worker over all N input partitions sequentially (measured
    4.7 s for 50 rows at local[32]; this is ~5 ms). Crash-safety is
    unchanged: the snapshot ledger commits AFTER this write, so a partial
    file from a crash is overwritten wholesale on resume."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = []
    for spec in ddl.split(","):
        name, typ = spec.strip().split()
        fields.append(pa.field(name, _ARROW_TYPES[typ]))
    schema = pa.schema(fields)
    cols = list(zip(*rows)) if rows else [[]] * len(fields)
    arrays = [
        pa.array(list(c), type=f.type) for c, f in zip(cols, schema)
    ]
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(arrays, schema=schema), os.path.join(path, "part-00000.parquet")
    )


def source_file_rows(paths: list[str]) -> list[tuple]:
    """Per-INPUT-file row counts from source parquet footers, driver-side.

    The per-input-split half of SURVEY.md §2.5's lineage requirement
    (the reference's per-file offset bookkeeping,
    `logpipe-input-file.c:1901-1925`): rows_in is a physical property of
    each source file, available from its footer without any data pass.
    parsed/routed/dropped at input-file granularity would require keying
    the whole parse→route chain by ``_metadata.file_path`` — a second data
    pass the reference doesn't do either; those are covered at snapshot
    granularity by the observe() counters, and the conservation law
    (sum rows_in = routed + dropped) ties the two granularities together.

    Returns [(partition_id, file, rows_in)] ordered by path."""
    import pyarrow.parquet as pq

    rows = []
    for i, p in enumerate(sorted(paths)):
        try:
            n = pq.ParquetFile(p).metadata.num_rows
        except Exception as exc:
            # name the offending path: an unreadable source entry must be
            # diagnosable from the message, not from a pyarrow traceback
            # with no filename (the write already happened; the caller's
            # snapshot stays uncommitted and the re-run hits this again)
            raise ValueError(
                f"source_file_rows: {p!r} is not a readable parquet file "
                f"({exc}) — the input-edge lineage requires every "
                "non-hidden file in the snapshot dir to be parquet"
            ) from exc
        rows.append((i, p, n))
    return rows


def sink_counts(routed_df: DataFrame, sink_col: str = "sink") -> DataFrame:
    """Per-sink aggregate counts (partial+final hash agg — Catalyst default),
    the §2.5 aggregate requirement: count + distinct convs + total text bytes."""
    return (
        routed_df.filter(F.col(sink_col).isNotNull())
        .groupBy(sink_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum(F.length("text")).alias("text_chars"),
        )
    )
