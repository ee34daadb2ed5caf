"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The reference is modality-blind — blocks are opaque bytes
(`src/logpipe_api.h:110-112`), which is exactly the right model at 100 TB:
Spark carries `binary` payload columns with typed metadata structs, and all
decode/feature work happens in Arrow-batched `mapInPandas` stages so bytes
never round-trip through per-row Python.

PNG pixel decode is REAL and pure-stdlib (``decode_png``: zlib inflate +
per-scanline unfilter incl. Paeth), with a matching fixture encoder
(``encode_png``) — the image feature path pools actual pixels and reports
an exact ``px_sum`` the SQL oracle recomputes. JPEG/GIF pixel decode and
the audio/video kernels remain deterministic fakes behind ``_decode_*``
seams (PIL/ffmpeg/librosa are NOT in this container; clearly marked); the
Spark-side contract — schema, batching, partition sizing — is real and
tested either way. Swapping in a real codec changes only the seam
function.

Scale notes: binary blobs make row groups huge — ``media_repartition``
targets a bytes-per-partition budget instead of a row count, the knob that
actually matters for executor memory with 1-10 MB payloads.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        # exact integer sum of all decoded pixel samples — non-null only
        # when the REAL decode ran (PNG path); the oracle-checkable proof
        # that inflate+unfilter recovered the planted pixels bit-exactly
        T.StructField("px_sum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# JPEG start-of-frame markers that carry dimensions (all SOFn except the
# non-frame C4=DHT, C8=JPG, CC=DAC)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_image_header(b: bytes) -> tuple[str | None, int | None, int | None]:
    """Pure-struct image header parse — (format, width, height), all None
    when the payload is not a recognized image. No codec libraries: PNG
    reads the IHDR chunk, JPEG walks the marker stream to the first SOFn,
    GIF reads the logical-screen descriptor. This replaces the former
    fully-stubbed decode metadata path (the *pixel* decode stays a seam —
    feature vectors at real deployments come from a real codec)."""
    if b.startswith(PNG_SIG) and len(b) >= 24 and b[12:16] == b"IHDR":
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        return ("png", w, h) if 0 < w and 0 < h else (None, None, None)
    if b.startswith(b"\xff\xd8"):  # JPEG SOI
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:  # desynced marker stream
                return (None, None, None)
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if 0xD0 <= marker <= 0xD9:  # standalone RSTn/SOI/EOI
                i += 2
                continue
            seglen = int.from_bytes(b[i + 2 : i + 4], "big")
            if seglen < 2:
                return (None, None, None)
            if marker in _JPEG_SOF:
                h = int.from_bytes(b[i + 5 : i + 7], "big")
                w = int.from_bytes(b[i + 7 : i + 9], "big")
                return ("jpeg", w, h) if 0 < w and 0 < h else (None, None, None)
            i += 2 + seglen
        return (None, None, None)
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w = int.from_bytes(b[6:8], "little")
        h = int.from_bytes(b[8:10], "little")
        return ("gif", w, h) if 0 < w and 0 < h else (None, None, None)
    return (None, None, None)


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type → samples/px


def _png_chunks(b: bytes):
    """Yield (type, data) for each chunk; stops cleanly at truncation."""
    i = len(PNG_SIG)
    while i + 8 <= len(b):
        ln = int.from_bytes(b[i : i + 4], "big")
        typ = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + ln]
        if len(data) < ln:
            return
        yield typ, data
        i += 12 + ln  # length + type + data + crc
        if typ == b"IEND":
            return


def _paeth(a: int, bb: int, c: int) -> int:
    p = a + bb - c
    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return bb if pb <= pc else c


def decode_png(b: bytes):
    """REAL stdlib PNG pixel decode — zlib inflate + per-scanline
    unfilter (None/Sub/Up/Average/Paeth, RFC 2083 §6) — for the common
    subset: bit depth 8, color types 0/2/4/6 (gray, RGB, gray+alpha,
    RGBA), non-interlaced. Returns an (H, W, channels) uint8 array, or
    None when the payload is not a PNG this decoder handles (palette,
    16-bit, Adam7, truncated, bad inflate) — callers fall back to the
    documented fake seam. No codec library: ``zlib`` + numpy only, so
    the pixel path is exact and oracle-checkable (the fixture encoder
    plants closed-form pixels that DuckDB recomputes)."""
    import zlib

    if not (b.startswith(PNG_SIG) and len(b) >= 33 and b[12:16] == b"IHDR"):
        return None
    w = int.from_bytes(b[16:20], "big")
    h = int.from_bytes(b[20:24], "big")
    depth, ctype, _comp, _filt, interlace = b[24:29]
    nch = _PNG_CHANNELS.get(ctype)
    if depth != 8 or nch is None or ctype == 3 or interlace != 0 or w < 1 or h < 1:
        return None
    idat = b"".join(d for t, d in _png_chunks(b) if t == b"IDAT")
    if not idat:
        return None
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    stride = w * nch
    if len(raw) != h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 2:  # Up — vectorized
            out[y] = line + prev
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth carry left state
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + ((a + int(prev[x])) >> 1)) & 0xFF
                else:
                    c = int(prev[x - nch]) if x >= nch else 0
                    cur[x] = (line[x] + _paeth(a, int(prev[x]), c)) & 0xFF
        else:
            return None
    return out.reshape(h, w, nch)


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal REAL PNG encoder for fixtures: bit depth 8, color type
    from the channel count, scanline filters CYCLING 0→4 so a decode of
    the output exercises every unfilter path, real zlib IDAT, real CRCs.
    Output round-trips exactly through :func:`decode_png` (asserted in
    tests) and through any standards-compliant viewer."""
    import zlib

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    stride = w * nch
    flat = px.reshape(h, stride)
    lines = bytearray()
    for y in range(h):
        f = y % 5
        cur = flat[y].astype(np.int32)
        prev = flat[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        left = np.zeros(stride, np.int32)
        left[nch:] = cur[:-nch]
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:
            pleft = np.zeros(stride, np.int32)
            pleft[nch:] = prev[:-nch]
            pred = np.array(
                [
                    _paeth(int(left[x]), int(prev[x]), int(pleft[x]))
                    for x in range(stride)
                ],
                dtype=np.int32,
            )
            enc = cur - pred
        lines.append(f)
        lines += (enc & 0xFF).astype(np.uint8).tobytes()

    def chunk(typ: bytes, data: bytes) -> bytes:
        import zlib as _z

        crc = _z.crc32(typ + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + typ + data + crc.to_bytes(4, "big")

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, ctype, 0, 0, 0])
    )
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + chunk(b"IEND", b"")
    )


def _decode_image(payload: bytes, meta) -> np.ndarray:
    """Image decode: REAL for PNGs :func:`decode_png` handles (pure
    stdlib inflate+unfilter — exact pixels), deterministic fake for
    everything else (JPEG/GIF pixel decode stays a seam — no codec libs
    in this container; replace this fallback with
    `PIL.Image.open(io.BytesIO(payload))` in a real deployment; the
    mapInPandas plumbing around it does not change)."""
    px = decode_png(payload)
    if px is not None:
        return px.astype(np.float32)
    h = hashlib.sha256(payload).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
    w = int(meta["width"] or 8)
    hgt = int(meta["height"] or 8)
    return rng.random((min(hgt, 8), min(w, 8), 3), dtype=np.float32)


def _decode_audio(payload: bytes, meta) -> np.ndarray:
    """STUB decode seam (see _decode_image)."""
    h = hashlib.sha256(payload).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
    return rng.random(64, dtype=np.float32)


def _frame_sample_video(payload: bytes, meta, every_n: int = 10) -> list[np.ndarray]:
    """STUB frame sampler: ``n_frames/every_n`` fake frames."""
    n = max(int((meta["n_frames"] or 0) // every_n), 1)
    h = hashlib.sha256(payload).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
    return [rng.random((4, 4, 3), dtype=np.float32) for _ in range(n)]


def extract_features(media: DataFrame, feature_dim: int = 16) -> DataFrame:
    """binary payload → fixed-dim feature vector, Arrow-batched.

    One mapInPandas pass: per batch, hash + header-parse + decode + pool.
    width/height come from a real PNG/JPEG/GIF header read
    (``parse_image_header``) and are null for non-images or unrecognized
    bytes. The output drops the payload (project early — don't carry blobs
    past the stage that needs them)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, hashes, sizes, widths, heights, px_sums = [], [], [], [], [], []
            for payload, kind, meta in zip(pdf["payload"], pdf["kind"], pdf["meta"]):
                b = bytes(payload)
                hashes.append(hashlib.sha256(b).hexdigest())
                sizes.append(len(b))
                _, w, h = parse_image_header(b) if kind == "image" else (None,) * 3
                widths.append(w)
                heights.append(h)
                px_sum = None
                if kind == "image":
                    px = decode_png(b)
                    if px is not None:  # REAL pixels (stdlib decode)
                        px_sum = int(px.sum(dtype=np.int64))
                        arr = px.astype(np.float32).mean(axis=(0, 1))
                    else:
                        arr = _decode_image(b, meta).mean(axis=(0, 1))
                elif kind == "audio":
                    arr = _decode_audio(b, meta)
                else:
                    frames = _frame_sample_video(b, meta)
                    arr = np.stack([f.mean(axis=(0, 1)) for f in frames]).mean(axis=0)
                px_sums.append(px_sum)
                v = np.resize(arr.astype(np.float32), feature_dim)
                feats.append(v.tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "sha256": hashes,
                    "width": pd.Series(widths, dtype="Int32"),
                    "height": pd.Series(heights, dtype="Int32"),
                    "px_sum": pd.Series(px_sums, dtype="Int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(_batches, schema=FEATURE_SCHEMA)


def media_repartition(media: DataFrame, target_mb: int = 64) -> DataFrame:
    """Partition by payload *bytes*, not rows: estimate total size from a
    cheap aggregate and repartition so each partition holds ~target_mb.
    With 1-10 MB blobs a row-count default would OOM executors."""
    row = media.agg(F.sum(F.length("payload")).alias("b")).first()
    total = (row["b"] if row else None) or 0
    n = max(int(total / (target_mb * 1024 * 1024)), 1)
    return media.repartition(n)
