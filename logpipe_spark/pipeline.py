"""The composed pipeline: source → parse → enrich → route → fan-out + lineage.

This is the Spark-native replacement for the reference's single dataflow
operator `WriteAllOutputPlugins` (`src/output.c:103-355`): where logpipe
drives Read → K×Process → M×Write per 100 KB block under epoll, here the
whole flow is ONE declarative DataFrame chain per run — Catalyst fuses
parse+route into the scan projection, the enrich join is broadcast (no fact
shuffle), and the fan-out write is a single dynamic-partitioned pass over
every pending snapshot at once, the way the reference reads each block once
and hands it to every output.

``write_batch`` is the one output path: ``run_pipeline`` hands it a batch
of snapshots, ``streaming.stream.run_stream`` each micro-batch. It clears
the keys' uncommitted output, writes the data with the observe() counters
riding along, then each key's lineage. Crash/restart semantics
(`src/monitor.c:89-181` + offset commit `logpipe-input-file.c:1901-1925`)
become: read and route all pending snapshots as one batch, write it, then
commit the snapshots in order via ``SnapshotLedger`` — exactly-once instead
of the reference's at-least-once.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logpipe_spark.ledger import SnapshotLedger
from logpipe_spark.operators.enrich import enrich
from logpipe_spark.operators.parse import extract_builtin
from logpipe_spark.operators.route import route
from logpipe_spark.operators.sinks import (
    LINEAGE_DDL,
    STREAM_LINEAGE_DDL,
    fan_out_write,
    file_lineage_rows,
    local_path,
    source_file_rows,
    write_lineage_parquet,
)


def build_stage_chain(
    df: DataFrame,
    dim: DataFrame,
    rules: list[dict],
    dim_keys: list[str] | None = None,
) -> DataFrame:
    """parse → enrich → route on an already-loaded transcript DataFrame.
    Returns the routed DataFrame (sink column nullable; NULL = dropped)."""
    parsed = extract_builtin(df)
    enriched = enrich(parsed, dim, keys=dim_keys or ["tool", "role"], how="left")
    return route(enriched, rules)


_COUNTERS = ("rows_in", "parsed", "routed", "dropped")


def counter_aggs(where: Column, suffix: str) -> list[Column]:
    """The conservation counters of the rows ``where`` holds for, as
    aggregates aliased ``<counter><suffix>``: rows_in, parsed (n_fields
    set), routed (sink set), dropped (sink NULL)."""
    sink = F.col("sink")
    values = [
        F.when(where, 1),
        F.when(where, F.col("n_fields")),
        F.when(where, sink),
        F.when(where & sink.isNull(), 1),
    ]
    return [F.count(v).alias(c + suffix) for c, v in zip(_COUNTERS, values)]


def write_batch(
    routed: DataFrame | None,
    key_col: str,
    keys: list[int],
    out_dir: str,
    src_paths: dict[int, list[str]],
    run_id: str | None,
) -> dict[int, dict]:
    """Write one routed batch and its lineage under ``out_dir``, keyed by
    ``key_col`` (``snapshot`` in batch mode, ``batch`` in the stream):
    both modes commit through here, as every input of the reference hands
    its blocks to the one ``WriteAllOutputPlugins``.

    Each key's ``data/<key_col>=<k>`` is removed, then the batch is
    appended in ONE write partitioned by (key_col, sink), so writing the
    same keys again (a stream replay, a batch resume) leaves one copy of
    their rows. Each key's counters ride that write via observe() as
    conditional counts, ahead of ``fan_out_write``'s NULL-sink filter, so
    dropped rows are counted, then discarded. ``routed`` None is a batch
    with no input rows: nothing is written and every counter is 0.

    ``lineage/<key_col>=<k>`` is then replaced, with no second pass over
    the data: the key's counters (partition_id -1), one row per output
    file (routed, from its footer) and one per input file in
    ``src_paths[k]`` (rows_in, from its footer). Rows are headed
    (run_id, k) in ``LINEAGE_DDL`` when ``run_id`` is given, else (k,) in
    ``STREAM_LINEAGE_DDL``.

    Returns {k: {rows_in, parsed, routed, dropped}}."""
    data_root = os.path.join(out_dir, "data")
    lineage_root = os.path.join(out_dir, "lineage")
    # an uncommitted key's data dir has no reader: whatever a crashed run
    # left there goes, and the append below never touches another key.
    # So does a killed write's _temporary: the next append's job commit
    # would otherwise merge its committed task dirs into the data.
    for d in ["_temporary", *(f"{key_col}={k}" for k in keys)]:
        shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
    counters = {k: dict.fromkeys(_COUNTERS, 0) for k in keys}
    if routed is not None:
        obs = Observation()
        routed = routed.observe(
            obs, *(a for k in keys for a in counter_aggs(F.col(key_col) == k, f"_{k}"))
        )
        fan_out_write(routed, data_root, [key_col])
        m = obs.get
        counters = {k: {c: m[f"{c}_{k}"] for c in _COUNTERS} for k in keys}

    ddl = STREAM_LINEAGE_DDL if run_id is None else LINEAGE_DDL
    for k in keys:
        head = (k,) if run_id is None else (run_id, k)
        c = counters[k]
        rows = [(*head, -1, *(c[n] for n in _COUNTERS), None, None)]
        if c["routed"]:
            rows += [
                (*head, pid, None, None, n, None, sink, f)
                for pid, sink, f, n in file_lineage_rows(
                    os.path.join(data_root, f"{key_col}={k}")
                )
            ]
        rows += [
            (*head, pid, n, None, None, None, None, f)
            for pid, f, n in source_file_rows(src_paths.get(k, []))
        ]
        write_lineage_parquet(rows, ddl, os.path.join(lineage_root, f"{key_col}={k}"))
    return counters


def _snapshot_files(
    snap_dir: str,
    include_files: list[str] | None,
    exclude_files: list[str] | None,
) -> list[str]:
    """The data files of one snapshot, listed driver-side. The same list
    feeds the scan and the input-edge lineage, so the two cannot disagree."""
    from logpipe_spark.sources.readers import select_input_files

    if include_files or exclude_files:
        return select_input_files(snap_dir, include_files, exclude_files)
    # mirror Spark's data-file rule: every non-hidden FILE at any depth
    # counts (a parquet part without the .parquet suffix is still data, and
    # a partitioned subdirectory's parts are too, so both must appear in the
    # input-edge lineage or conservation breaks); directories themselves are
    # walked, never handed to the footer reader — a flat listing here once
    # fed a subdirectory to pq.ParquetFile, crashing after the data write
    # and poisoning every resume
    paths = []
    for dirpath, dirnames, filenames in os.walk(snap_dir):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "_")))
        paths += [
            os.path.join(dirpath, n)
            for n in sorted(filenames)
            if not n.startswith((".", "_"))
        ]
    if not paths:
        # same contract as select_input_files: an empty return means "all
        # files filtered out by the globs", never "nothing arrived yet"
        raise FileNotFoundError(
            f"run_pipeline: no data files under {snap_dir} — an empty "
            "snapshot directory is a source bug, not a zero-row snapshot"
        )
    return paths


def run_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    dim: DataFrame,
    rules: list[dict],
    run_id: str | None = None,
    salt_partitions: int | None = None,
    fail_after_write_snapshot: int | None = None,
    dim_keys: list[str] | None = None,
    include_files: list[str] | None = None,
    exclude_files: list[str] | None = None,
) -> dict:
    """Process every pending snapshot under ``src_dir`` exactly once.

    All pending snapshots form ONE batch: one scan over every snapshot's
    files, one stage chain, and one ``write_batch`` partitioned by
    (snapshot, sink). Output files are at most scan splits × sinks, and the
    splits follow data volume: Spark never splits a small file, so a
    one-file snapshot is written by one task and gets one file per sink.
    The Spark job and exchange counts are fixed per run, not per snapshot.
    The ledger then commits the snapshots in order.

    ``salt_partitions`` is accepted for existing callers and does not
    change the plan: no exchange runs between the scan and the write, so
    an under-split batch (fewer scan tasks than cores) parses on as many
    tasks as it has splits. At local[8] with 4 one-file snapshots, the
    largest parse task holds a whole snapshot either way, and a
    snapshot-keyed spread only added a shuffle (BENCH.md).

    ``include_files`` / ``exclude_files``: source-level basename glob
    filters (the reference's files../exclude_files.. walk) — pruned from
    the file LIST before the scan, so excluded files cost zero IO. A
    snapshot whose files are all filtered out commits with zero-row
    lineage (the reference likewise commits nothing and moves on).

    ``fail_after_write_snapshot``: test hook — raise after the batch's data
    and lineage writes, with the snapshots before it committed and it not,
    simulating a worker crash at the worst moment.

    Path contract: ``src_dir``/``out_dir`` must be POSIX-visible — the
    snapshot ledger itself is os-level (see ledger.py; the documented
    object-store swap is an Iceberg catalog, which replaces the ledger AND
    the footer reads wholesale). The driver-side pyarrow footer reads and
    lineage write share that contract, and ``streaming.stream.run_stream``
    holds its out_dir to the same one: a ``file:`` URI with no host or
    ``localhost`` is taken as its path, and any other host or scheme
    raises ValueError before anything is written.

    Returns {run_id, processed: [snapshot ids]}.
    """
    src_dir, out_dir = local_path(src_dir), local_path(out_dir)
    run_id = run_id or uuid.uuid4().hex[:12]
    ledger = SnapshotLedger(out_dir)
    batch = ledger.pending(src_dir)
    src_paths = {
        snap: _snapshot_files(
            os.path.join(src_dir, f"snapshot={snap}"), include_files, exclude_files
        )
        for snap in batch
    }
    files = [f for snap in batch for f in src_paths[snap]]
    routed = None
    if files:
        # mergeSchema: a column added in a later snapshot is NULL in the
        # earlier ones, and a type conflict between snapshots fails here,
        # before anything is written
        df = spark.read.option("mergeSchema", "true").parquet(*files)
        # the snapshot id is the last snapshot=<k> directory of the file
        df = df.withColumn(
            "snapshot",
            F.regexp_extract(
                F.col("_metadata.file_path"), r".*/snapshot=(\d+)/", 1
            ).cast("long"),
        )
        routed = build_stage_chain(df, dim, rules, dim_keys=dim_keys)
    counters = write_batch(routed, "snapshot", batch, out_dir, src_paths, run_id)

    for snap in batch:
        if fail_after_write_snapshot == snap:
            raise RuntimeError(f"injected crash after write of snapshot {snap}")
        ledger.commit(snap, run_id, metrics={**counters[snap], "batch": batch})

    return {"run_id": run_id, "processed": batch}


def read_sinks(spark: SparkSession, out_dir: str) -> DataFrame:
    """All routed rows across committed snapshots, with sink + snapshot cols.

    Only committed snapshots are visible — an uncommitted (crashed) write is
    invisible to readers, mirroring Iceberg snapshot isolation."""
    out_dir = local_path(out_dir)
    ledger = SnapshotLedger(out_dir)
    committed = sorted(ledger.committed())
    if not committed:
        raise ValueError(f"no committed snapshots under {out_dir}")
    # a snapshot where every row was dropped writes no parquet files — skip it
    paths = [
        p
        for s in committed
        if os.path.isdir(p := os.path.join(out_dir, "data", f"snapshot={s}"))
        and any(n.startswith("sink=") for n in os.listdir(p))
    ]
    if not paths:
        raise ValueError(
            f"no routed rows in any committed snapshot under {out_dir} "
            "(every row dropped by the route rules?)"
        )
    return spark.read.option("basePath", os.path.join(out_dir, "data")).parquet(*paths)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    out_dir = local_path(out_dir)
    ledger = SnapshotLedger(out_dir)
    committed = sorted(ledger.committed())
    if not committed:
        raise ValueError(f"no committed snapshots under {out_dir}")
    paths = [os.path.join(out_dir, "lineage", f"snapshot={s}") for s in committed]
    # mergeSchema: the lineage DDL widened from 7 to 9 columns (sink, file)
    # in round 3 — an out_dir resumed across that change mixes schemas, and
    # without merging, the read's schema would depend on which file is
    # sampled first (ADVICE r3). The table is tiny; merging is free.
    return spark.read.option("mergeSchema", "true").option(
        "basePath", os.path.join(out_dir, "lineage")
    ).parquet(*paths)
