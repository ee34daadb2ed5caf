"""The composed pipeline: source → parse → enrich → route → fan-out + lineage.

This is the Spark-native replacement for the reference's single dataflow
operator `WriteAllOutputPlugins` (`src/output.c:103-355`): where logpipe
drives Read → K×Process → M×Write per 100 KB block under epoll, here the
whole flow is ONE declarative DataFrame chain per run — Catalyst fuses
parse+route into the scan projection, the enrich join is broadcast (no fact
shuffle), and the fan-out write is a single dynamic-partitioned pass over
every pending snapshot at once, the way the reference reads each block once
and hands it to every output.

Crash/restart semantics (`src/monitor.c:89-181` + offset commit
`logpipe-input-file.c:1901-1925`) become: read, route and write all pending
snapshots as one batch (clearing their uncommitted output first), write
each snapshot's lineage, then commit the snapshots in order via
``SnapshotLedger`` — exactly-once instead of the reference's at-least-once.
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
    fan_out_write,
    file_lineage_rows,
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


def counter_aggs(where: Column | None = None, suffix: str = "") -> list[Column]:
    """The conservation counters of a routed frame as aggregates, aliased
    ``<counter><suffix>``: rows_in, parsed (n_fields set), routed (sink
    set), dropped (sink NULL). ``where`` restricts every counter to the
    rows it holds for. Batch and stream mode both observe exactly these."""
    sink = F.col("sink")
    if where is None:
        values = [F.lit(1), F.col("n_fields"), sink, F.when(sink.isNull(), 1)]
    else:
        values = [
            F.when(where, 1),
            F.when(where, F.col("n_fields")),
            F.when(where, sink),
            F.when(where & sink.isNull(), 1),
        ]
    return [F.count(v).alias(c + suffix) for c, v in zip(_COUNTERS, values)]


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
    min_input_partitions: int | None = 0,
) -> dict:
    """Process every pending snapshot under ``src_dir`` exactly once.

    All pending snapshots form ONE batch: one scan over every snapshot's
    files, one stage chain, one write partitioned by (snapshot, sink). The
    Spark job and exchange counts are therefore fixed per run, not per
    snapshot. Lineage is then written per snapshot, and the ledger commits
    the snapshots in order.

    ``min_input_partitions``: an under-split batch (few parquet files with
    one row group each are few scan tasks — the whole parse→route stage
    would run on that many cores) is repartitioned up to this many
    partitions before parsing. Default 0 → the session's default
    parallelism. Pass None to disable. A well-split batch is never
    touched, so at scale this is a free plan check.

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
    holds its out_dir to the same one.

    Returns {run_id, processed: [snapshot ids]}.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    ledger = SnapshotLedger(out_dir)
    data_root = os.path.join(out_dir, "data")
    lineage_root = os.path.join(out_dir, "lineage")
    batch = ledger.pending(src_dir)
    src_paths = {
        snap: _snapshot_files(
            os.path.join(src_dir, f"snapshot={snap}"), include_files, exclude_files
        )
        for snap in batch
    }
    files = [f for snap in batch for f in src_paths[snap]]
    counters = {snap: dict.fromkeys(_COUNTERS, 0) for snap in batch}
    # a batch snapshot is uncommitted, so no reader sees its data dir:
    # whatever a crashed run left there goes, and the append below never
    # touches a committed snapshot's files
    for snap in batch:
        shutil.rmtree(os.path.join(data_root, f"snapshot={snap}"), ignore_errors=True)

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
        if min_input_partitions is not None:
            target = min_input_partitions or spark.sparkContext.defaultParallelism
            # getNumPartitions reads the plan, not the data — no job runs
            if df.rdd.getNumPartitions() < target:
                df = df.repartition(target)
        routed = build_stage_chain(df, dim, rules, dim_keys=dim_keys)

        # ONE action per batch: each snapshot's conservation counters ride
        # the write via observe() as conditional counts (collected by a
        # listener, zero extra reads) — the single-read/multi-write
        # invariant of the reference's output.c:256-277, now including the
        # bookkeeping. The observe node sits above the route stage and
        # below fan_out_write's NULL-sink filter, so dropped rows are
        # counted, then discarded.
        obs = Observation(f"lineage_{run_id}")
        aggs = [
            a for snap in batch
            for a in counter_aggs(F.col("snapshot") == snap, f"_{snap}")
        ]
        routed = routed.observe(obs, *aggs)

        # the write-side shuffle keys by (sink, salt) — one sink per task,
        # hot sinks spread over salt_buckets tasks, ~snapshots×sinks×salt
        # output files instead of tasks×snapshots×sinks (repartition_salted
        # by conv_id remains the right key when a downstream consumer, not
        # the file layout, needs co-located conversations)
        fan_out_write(
            routed, data_root, mode="append",
            extra_partition_cols=["snapshot"], shuffle_partitions=salt_partitions,
        )
        m = obs.get
        counters = {snap: {c: m[f"{c}_{snap}"] for c in _COUNTERS} for snap in batch}

    for snap in batch:
        snap_data = os.path.join(data_root, f"snapshot={snap}")
        c = counters[snap]
        # Three granularities in one tiny table, all collected WITHOUT a
        # second pass over the data:
        #   partition_id=-1, sink+file NULL  → whole-snapshot observe()
        #                                      counters (ride the write);
        #   partition_id>=0, sink NOT NULL   → one row per OUTPUT file
        #                                      (routed from its footer);
        #   partition_id>=0, sink NULL       → one row per INPUT file
        #                                      (rows_in from its footer).
        # Footers are read driver-side with pyarrow: fan_out_write's keyed
        # shuffle bounds output files at ~sinks×salt_buckets per snapshot,
        # so this is a handful of KB-sized reads — a Spark-job variant
        # (metadata scan + Window) cost ~13 s of cold-JVM codegen per
        # bench run for the same rows (BENCH.md r4 A/B).
        lineage_rows = [
            (run_id, snap, -1, *(c[k] for k in _COUNTERS), None, None)
        ]
        if c["routed"]:
            for pid, sink_name, f, n_routed in file_lineage_rows(snap_data):
                lineage_rows.append(
                    (run_id, snap, pid, None, None, n_routed, None, sink_name, f)
                )
        for pid, f, rows_in in source_file_rows(src_paths[snap]):
            lineage_rows.append(
                (run_id, snap, pid, rows_in, None, None, None, None, f)
            )
        write_lineage_parquet(
            lineage_rows, LINEAGE_DDL,
            os.path.join(lineage_root, f"snapshot={snap}"),
        )

    for snap in batch:
        if fail_after_write_snapshot == snap:
            raise RuntimeError(f"injected crash after write of snapshot {snap}")
        ledger.commit(snap, run_id, metrics={**counters[snap], "batch": batch})

    return {"run_id": run_id, "processed": batch}


def read_sinks(spark: SparkSession, out_dir: str) -> DataFrame:
    """All routed rows across committed snapshots, with sink + snapshot cols.

    Only committed snapshots are visible — an uncommitted (crashed) write is
    invisible to readers, mirroring Iceberg snapshot isolation."""
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
    ledger = SnapshotLedger(out_dir)
    committed = sorted(ledger.committed())
    if not committed:
        raise ValueError(f"no committed snapshots under {out_dir}")
    paths = [os.path.join(out_dir, "lineage", f"snapshot={s}") for s in committed]
    # mergeSchema: the lineage DDL widened from 8 to 10 columns (sink, file)
    # in round 3 — an out_dir resumed across that change mixes schemas, and
    # without merging, the read's schema would depend on which file is
    # sampled first (ADVICE r3). The table is tiny; merging is free.
    return spark.read.option("mergeSchema", "true").option(
        "basePath", os.path.join(out_dir, "lineage")
    ).parquet(*paths)


def sink_table(spark: SparkSession, out_dir: str, sink: str) -> DataFrame:
    return read_sinks(spark, out_dir).filter(F.col("sink") == sink)
