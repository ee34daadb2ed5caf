"""Test fixtures and reference mirrors that no package caller needs: a
synthetic media table, a header-only PNG prefix, a plain-Python BPE
encoder, the numpy mirror of the classifier's pseudo weights, a
no-shuffle plan assertion and a Spark job counter. They import the package; the package never
imports them."""

from __future__ import annotations

import hashlib
import uuid

import numpy as np
from pyspark.sql import DataFrame

from logpipe_spark.operators.classify import _W_HALF, _W_MOD, DEFAULT_BUCKETS
from logpipe_spark.operators.multimodal import MEDIA_SCHEMA, PNG_SIG, encode_png


def png_header_bytes(width: int, height: int) -> bytes:
    """A minimal syntactically-valid PNG prefix (signature + IHDR) for
    fixtures — parse_image_header reads exactly these fields. CRC is a
    fixed placeholder: header parsers (ours included, like `file`/ImageMagick
    ping paths) do not verify chunk CRCs."""
    ihdr = width.to_bytes(4, "big") + height.to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 0]  # bit depth 8, truecolor, deflate, none, none
    )
    return PNG_SIG + (13).to_bytes(4, "big") + b"IHDR" + ihdr + bytes(4)


def gen_fake_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table (payload = seeded bytes)."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.integers(0, 256, size=int(rng.integers(256, 4096)), dtype=np.uint8).tobytes()
        if kind == "image":
            # a COMPLETE valid PNG (real IDAT + CRCs): the feature pass
            # decodes these pixels for real via decode_png
            payload = encode_png(
                rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
            )
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                (
                    32 if kind == "image" else None,
                    24 if kind == "image" else None,
                    16000 if kind == "audio" else None,
                    100 if kind == "video" else None,
                    {"image": "png", "audio": "wav", "video": "h264"}[kind],
                ),
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def encode_bpe_py(text: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference greedy BPE encoder (plain Python, left-to-right per merge
    in rank order) — the independent implementation the replace-chain is
    tested against."""
    out_tokens: list[str] = []
    for w in text.split():
        syms = list(w)
        for x, y in merges:
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    merged.append(x + y)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        out_tokens.extend(syms)
    return out_tokens


def pseudo_weights_array(buckets: int = DEFAULT_BUCKETS):
    """numpy mirror of ``classify.pseudo_weight_expr`` for every bucket —
    fill a 'trained' weight vector that makes the UDF path reproduce the
    JVM path exactly."""
    w = np.empty(buckets, dtype=np.float64)
    for b in range(buckets):
        h = int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:15], 16)
        w[b] = float((h % _W_MOD) - _W_HALF) / _W_HALF
    return w


def assert_no_exchange(df: DataFrame) -> str:
    """Raise if the physical plan contains a shuffle (Exchange). Returns
    the plan string for further assertions. BroadcastExchange is also
    rejected — the point of bucketing is joining two LARGE sides."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(f"plan contains a shuffle:\n{plan}")
    return plan


def count_jobs(spark, fn):
    """Call ``fn()`` under a fresh Spark job group and return (its result,
    the number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
