"""Small-file compaction — the maintenance operator every long-running
100 TB pipeline needs and the reference never did (it appends to a
handful of files; a partitioned distributed writer instead emits one
file per task per sink per snapshot, and a year of small snapshots
turns scans into metadata storms: 10^6 × 1 MB files cost more in
footer reads and task scheduling than 10^4 × 128 MB files cost in IO).

Contract: run on COLD data — sink outputs, archived snapshot dirs —
never on a directory a live run is writing or a resume ledger is
mid-way through (file identity changes; the ledger tracks snapshot
DIRECTORIES, so compacting a fully-committed snapshot is safe, but
per-INPUT-file lineage rows written before compaction keep naming the
old files — they are a historical record, not a current-state index).

Crash posture: write to a sibling temp dir, verify row count, then two
renames (src → .pre_compact backup, tmp → src) and backup delete. A
crash between the renames leaves either the original or both visible —
never a half-written mix under the original name.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def parquet_files(src_dir: str) -> list[str]:
    """Non-hidden .parquet files directly under ``src_dir``."""
    return sorted(
        os.path.join(src_dir, f)
        for f in os.listdir(src_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    target_bytes: int = 128 << 20,
) -> dict:
    """Rewrite a directory of small parquet files into
    ``ceil(total_bytes / target_bytes)`` files of ~``target_bytes`` each
    (the 128-512 MB band that keeps scans split-friendly without
    small-file overhead). Row-preserving by construction and VERIFIED by
    count before the swap; returns the stats dict
    (files_before, files_after, bytes_before, bytes_after, rows).

    No-op (files_after == files_before) when the directory already has
    fewer than 2 files or is already at/under one target
    file per existing file. Scale note: the rewrite is one distributed
    read + repartition + write — the repartition is a full shuffle of
    the directory's data, which is the point (it is how rows move into
    fewer, larger files); compaction is run per-directory (per snapshot
    / per sink partition), so the unit of work stays bounded no matter
    how large the whole corpus is."""
    files = parquet_files(src_dir)
    bytes_before = sum(os.path.getsize(f) for f in files)
    if len(files) < 2:
        return {
            "files_before": len(files), "files_after": len(files),
            "bytes_before": bytes_before, "bytes_after": bytes_before,
            "rows": None, "compacted": False,
        }
    n_out = max(1, math.ceil(bytes_before / target_bytes))
    if n_out >= len(files):
        return {
            "files_before": len(files), "files_after": len(files),
            "bytes_before": bytes_before, "bytes_after": bytes_before,
            "rows": None, "compacted": False,
        }

    df = spark.read.parquet(src_dir)
    rows_before = df.count()
    tmp = src_dir.rstrip("/") + ".compact_tmp"
    backup = src_dir.rstrip("/") + ".pre_compact"
    shutil.rmtree(tmp, ignore_errors=True)
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)

    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_parquet_dir: row count changed during rewrite "
            f"({rows_before} -> {rows_after}) in {src_dir}; aborted, "
            f"original left untouched"
        )
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(src_dir, backup)
    os.rename(tmp, src_dir)
    shutil.rmtree(backup)

    out_files = parquet_files(src_dir)
    return {
        "files_before": len(files), "files_after": len(out_files),
        "bytes_before": bytes_before,
        "bytes_after": sum(os.path.getsize(f) for f in out_files),
        "rows": rows_before, "compacted": True,
    }
