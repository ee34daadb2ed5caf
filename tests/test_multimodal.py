"""Multimodal plumbing: binary payload columns through mapInPandas feature
extraction (decode kernels are deterministic stubs — the Spark-side schema,
batching, and partition-sizing contracts are what's under test)."""

import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.multimodal import extract_features, media_repartition
from testkit import gen_fake_media, png_header_bytes


@pytest.fixture(scope="module")
def media(spark):
    return gen_fake_media(spark, n=60).cache()


def test_feature_extraction_schema_and_counts(media):
    feats = extract_features(media, feature_dim=16)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows:
        assert len(r["feature"]) == 16
        assert len(r["sha256"]) == 64
        assert r["n_bytes"] > 0
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}


def test_features_deterministic(media):
    a = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    b = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert a == b


def test_payload_dropped_after_extraction(media):
    feats = extract_features(media)
    assert "payload" not in feats.columns


def test_media_repartition_by_bytes(media):
    df = media_repartition(media, target_mb=1)
    assert df.rdd.getNumPartitions() >= 1
    assert df.count() == 60


def test_parse_image_header_png_jpeg_gif():
    from logpipe_spark.operators.multimodal import parse_image_header

    assert parse_image_header(png_header_bytes(640, 480)) == ("png", 640, 480)
    # minimal JPEG: SOI, APP0 shell, SOF0 with dims 123x45, then junk
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (45).to_bytes(2, "big") + (123).to_bytes(2, "big") + bytes(10)
    )
    assert parse_image_header(jpeg) == ("jpeg", 123, 45)
    # progressive SOF2 also carries dims
    sof2 = jpeg.replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_image_header(sof2) == ("jpeg", 123, 45)
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert parse_image_header(gif) == ("gif", 320, 200)
    # non-images and truncations are None, never exceptions
    for bad in (b"", b"\x89PNG", b"\xff\xd8\xff", b"plain text", bytes(100)):
        assert parse_image_header(bad) == (None, None, None)


def test_extracted_width_height_from_real_headers(media):
    rows = extract_features(media).collect()
    for r in rows:
        if r["kind"] == "image":
            assert (r["width"], r["height"]) == (32, 24)
        else:
            assert r["width"] is None and r["height"] is None


def test_png_roundtrip_all_filters_and_color_types():
    """encode_png cycles scanline filters 0-4; decode_png's unfilter must
    recover every planted pixel bit for bit across gray / gray+alpha /
    RGB / RGBA, sizes chosen to hit odd strides."""
    import numpy as np

    from logpipe_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for nch in (1, 2, 3, 4):
        for (h, w) in ((1, 1), (5, 3), (7, 13), (16, 16)):
            px = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
            got = decode_png(encode_png(px))
            assert got is not None
            assert got.shape == (h, w, nch)
            assert (got == px).all(), (nch, h, w)


def test_decode_png_rejects_unsupported():
    import numpy as np

    from logpipe_spark.operators.multimodal import decode_png, encode_png

    assert decode_png(b"not a png") is None
    # header-only prefix (no IDAT) — the old fixture shape
    assert decode_png(png_header_bytes(8, 8) + b"junk") is None
    # truncated IDAT
    full = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    assert decode_png(full[:40]) is None
    # interlaced flag rejected
    tampered = bytearray(full)
    tampered[28] = 1  # IHDR interlace byte
    assert decode_png(bytes(tampered)) is None


def test_extract_features_real_pixels_via_px_sum(media):
    """Image rows in the fixture are complete PNGs now — px_sum must be
    the exact integer sum of the planted pixels (proving the stdlib
    inflate+unfilter path ran), and non-image rows stay null."""
    import numpy as np

    from logpipe_spark.operators.multimodal import decode_png

    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter("kind = 'image'").collect()
    }
    rows = extract_features(media).collect()
    for r in rows:
        if r["kind"] == "image":
            want = int(decode_png(payloads[r["media_id"]]).sum(dtype=np.int64))
            assert r["px_sum"] == want
        else:
            assert r["px_sum"] is None
