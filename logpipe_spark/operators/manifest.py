"""Training-data delivery: sharded corpus write with a verifiable
manifest — the last mile between this engine and a training job's data
loader.

What a loader actually needs from the corpus handoff: (a) shards it can
read in index order to get the full deterministic shuffle (that's
``shuffle_corpus``'s contract), (b) per-shard row counts for resumable
bookkeeping, (c) a content checksum per shard so a re-run, a copy, or a
re-materialisation can be verified without re-reading the producer's
inputs, and (d) an atomic publish — a half-written corpus must never
look complete. The reference's analogue is its rotate-then-rename file
publishing (`logpipe-output-file.c` merge/rotation); same idea, corpus
scale.

Checksums are ORDER-INDEPENDENT by construction: per-row md5-derived
60-bit digests combined with ``bit_xor`` inside the same aggregation
that counts rows (XOR is commutative, so partial aggregation order —
which Spark does not guarantee — cannot change the result, the same
trick the lineage/sketch code uses). One extra column per row, zero
extra passes.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logpipe_spark.operators.corpus import shuffle_corpus
from logpipe_spark.operators.dedup import base_hash60

MANIFEST_NAME = "manifest.json"


def _row_digest():
    return base_hash60(
        F.concat(
            F.col("doc_id").cast("string"), F.lit("\x1f"),
            F.coalesce(F.col("text"), F.lit("\x00")),
        )
    )


def write_training_shards(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    num_shards: int = 8,
    seed: str = "epoch0",
) -> dict:
    """Publish ``docs`` as ``out_dir/shard=K/`` parquet in the
    deterministic shuffle order plus ``out_dir/manifest.json`` with
    per-shard ``{rows, digest}`` and corpus totals. Returns the
    manifest dict.

    Atomicity: everything is written under ``out_dir + '.tmp'`` and
    published by rename — the previous corpus is first renamed ASIDE
    (never deleted before the new one is in place), tmp swings in, and
    only then is the old copy removed. Readers either see the previous
    corpus or the complete new one; the worst crash window leaves the
    old corpus intact under ``out_dir + '.old-*'`` for manual recovery,
    never nothing (the manifest is written into the tmp tree LAST, so
    even a reader that races the rename can treat its presence as the
    completeness marker).

    ``docs``: (``doc_id``, ``text``, ...)."""
    tmp = out_dir + ".tmp"
    if os.path.exists(tmp):
        import shutil

        shutil.rmtree(tmp)

    ordered = shuffle_corpus(docs, num_shards, seed=seed, key_col="doc_id")
    data_dir = os.path.join(tmp, "data")
    (
        ordered.repartitionByRange(num_shards, "shard")
        .sortWithinPartitions("sort_key")
        .withColumn("_digest", _row_digest())
        .write.partitionBy("shard")
        .parquet(data_dir)
    )
    stats = (
        spark.read.parquet(data_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr("bit_xor(_digest)").alias("digest"),
        )
        .collect()
    )
    shards = {
        int(r["shard"]): {"rows": r["rows"], "digest": r["digest"]}
        for r in stats
    }
    manifest = {
        "seed": seed,
        "num_shards": num_shards,
        "total_rows": sum(s["rows"] for s in shards.values()),
        "corpus_digest": _xor_all(s["digest"] for s in shards.values()),
        "shards": {str(k): shards[k] for k in sorted(shards)},
    }
    with open(os.path.join(tmp, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)

    # Publish order matters (ADVICE r5): rename the OLD corpus aside
    # first, swing tmp into place, THEN delete the old copy — the only
    # non-atomic window leaves either the previous corpus or the new one
    # visible, never neither, and a crash mid-publish preserves the old
    # data under a recoverable name instead of having already rmtree'd it.
    old = None
    if os.path.exists(out_dir):
        old = out_dir.rstrip(os.sep) + ".old-" + uuid.uuid4().hex[:8]
        os.rename(out_dir, old)
    try:
        os.rename(tmp, out_dir)
    except OSError:
        if old is not None:  # roll the previous publish back into place
            os.rename(old, out_dir)
        raise
    if old is not None:
        import shutil

        shutil.rmtree(old)
    return manifest


def _xor_all(vals) -> int:
    out = 0
    for v in vals:
        out ^= int(v)
    return out


def verify_training_shards(spark: SparkSession, out_dir: str) -> dict:
    """Re-derive every shard's count and digest from the published data
    and compare against the manifest. Returns {shard: 'ok'|'MISMATCH'}
    plus a '_corpus' entry; raises if the manifest is missing (an
    unpublished or torn corpus must fail loudly, not read as empty)."""
    mpath = os.path.join(out_dir, MANIFEST_NAME)
    if not os.path.exists(mpath):
        raise FileNotFoundError(
            f"{mpath} missing — corpus was never published (the manifest "
            "is written last and the publish rename is atomic)"
        )
    with open(mpath) as f:
        manifest = json.load(f)
    got = {
        int(r["shard"]): (r["rows"], int(r["digest"]))
        for r in spark.read.parquet(os.path.join(out_dir, "data"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr("bit_xor(_digest)").alias("digest"),
        )
        .collect()
    }
    report = {}
    ok_all = True
    for k, want in manifest["shards"].items():
        have = got.get(int(k))
        ok = have == (want["rows"], int(want["digest"]))
        ok_all &= ok
        report[k] = "ok" if ok else "MISMATCH"
    report["_corpus"] = (
        "ok"
        if ok_all
        and manifest["corpus_digest"] == _xor_all(d for _, d in got.values())
        else "MISMATCH"
    )
    return report
