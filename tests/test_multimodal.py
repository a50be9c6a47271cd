"""Multimodal plumbing: binary columns through Arrow-batched kernels —
determinism, schema, fan-out shape."""

from __future__ import annotations

import runpy
from pathlib import Path

from minio_iceberg_polaris_lakehouse_spark.multimodal import frames as FR
from minio_iceberg_polaris_lakehouse_spark.multimodal.binary import (
    _PNG_GOLDEN_ROWS,
    assets_from_documents,
    decode_assets,
    fake_decode_image,
)
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table


def test_decode_deterministic_and_schema(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(50)
    decoded = decode_assets(assets_from_documents(d))
    assert decoded.columns == ["doc_id", "width", "height", "mean_luma"]
    a = sorted(map(tuple, decoded.collect()))
    b = sorted(map(tuple, decode_assets(assets_from_documents(d)).collect()))
    assert a == b  # stub is deterministic across runs/partitionings
    # matches a driver-side call of the same kernel
    row = d.select("doc_id", "text").collect()[0]
    w, h, luma = fake_decode_image(row.text.encode())
    got = {r.doc_id: (r.width, r.height, r.mean_luma) for r in decoded.collect()}
    assert got[row.doc_id] == (w, h, luma)


def test_frame_sampling_fanout(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(40)
    assets = assets_from_documents(d)
    frames = FR.sample_frames(assets)
    rows = frames.collect()
    assert frames.columns == ["doc_id", "frame_idx", "frame_ts_ms", "feature", "frame_bytes"]
    assert len(rows) >= 40  # ≥1 frame per asset
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, fr in by_doc.items():
        idxs = sorted(f.frame_idx for f in fr)
        assert idxs == list(range(len(fr)))  # dense frame indices
        assert all(len(f.feature) == FR.FEATURE_DIM for f in fr)
        assert all(f.frame_ts_ms == f.frame_idx * 1000 for f in fr)


def test_frame_norms_aggregate(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(40)
    out = FR.frame_feature_norms(FR.sample_frames(assets_from_documents(d)))
    rows = out.collect()
    assert len(rows) == 40
    assert all(0 < r.mean_feature_norm < FR.FEATURE_DIM for r in rows)


def test_resize_then_decode_chains_in_arrow(spark, sf_dir):
    """decode(resize(assets)) — kernels chain through the BINARY column;
    output dims are the requested ones and blobs are deterministic."""
    from minio_iceberg_polaris_lakehouse_spark.multimodal.binary import (
        assets_from_documents,
        resize_assets,
    )

    d = load_table(spark, sf_dir, "documents").limit(20)
    resized = resize_assets(assets_from_documents(d), 128, 96)
    rows = {r.doc_id: r for r in resized.collect()}
    again = {r.doc_id: r for r in resize_assets(assets_from_documents(d), 128, 96).collect()}
    assert all(r.width == 128 and r.height == 96 for r in rows.values())
    assert all(bytes(rows[k].blob) == bytes(again[k].blob) for k in rows)


def test_frame_sample_query_matches_stub_arithmetic(spark, sf_dir):
    """The registered mm_frame_sample query yields exactly the stub's
    per-document frame count (n = 1 + sha256(blob)[0] % 4)."""
    import hashlib

    from minio_iceberg_polaris_lakehouse_spark.registry import all_queries

    got = {r.doc_id: r for r in all_queries()["mm_frame_sample"].spark(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for r in docs:
        want = 1 + hashlib.sha256(r.text.encode()).digest()[0] % 4
        assert got[r.doc_id].n_frames == want, r.doc_id


def test_golden_bytes_fixture(spark):
    """Golden-bytes regression pin: FIXED blobs with COMMITTED expected
    outputs (precomputed constants, not recomputed from the stub at test
    time) — if the decode/resize plumbing or the stub kernel changes
    shape or values, this fails loudly instead of drifting silently.
    When a real codec (PIL/ffmpeg) replaces the stub, regenerate these
    constants from real decodes of committed image bytes."""
    import hashlib

    from minio_iceberg_polaris_lakehouse_spark.multimodal.binary import (
        DECODED_SCHEMA,
        decode_assets,
        resize_assets,
    )

    blobs = [
        (0, b"golden-asset-0"),
        (1, b"golden-asset-1"),
        (2, b"\x00\x01\x02PNG-ish\xff"),
    ]
    assets = spark.createDataFrame(
        [(i, "image/fake", b, len(b)) for i, b in blobs],
        "doc_id long, media_type string, blob binary, n_bytes long",
    )

    decoded = {r.doc_id: (r.width, r.height, r.mean_luma) for r in decode_assets(assets).collect()}
    assert decoded == {
        0: (253, 64, 105),
        1: (109, 67, 150),
        2: (144, 146, 107),
    }
    assert [f.name for f in DECODED_SCHEMA.fields] == ["doc_id", "width", "height", "mean_luma"]

    resized = {r.doc_id: r for r in resize_assets(assets, 224, 224).collect()}
    got = {i: (len(r.blob), hashlib.sha256(bytes(r.blob)).hexdigest()[:16]) for i, r in resized.items()}
    assert got == {
        0: (46, "a0468156c7aa0965"),
        1: (46, "e830f324b3b532d4"),
        2: (43, "d948f602bcf7de57"),
    }


# ---------------------------------------------------------------------------
# Real PNG codec (multimodal/png.py): round-trip, cross-validation against
# the independent Java ImageIO implementation, and the real decode/resize
# query paths.
# ---------------------------------------------------------------------------
def test_png_roundtrip_and_bytes():
    import numpy as np

    from minio_iceberg_polaris_lakehouse_spark.multimodal import png

    rng = np.random.default_rng(7)
    for shape in [(5, 3), (24, 31), (8, 8, 3)]:
        pixels = rng.integers(0, 256, size=shape, dtype=np.uint8)
        blob = png.encode_png(pixels)
        assert blob[:8] == png.PNG_SIG
        out = png.decode_png(blob)
        assert out.shape == pixels.shape
        assert (out == pixels).all()


def test_png_cross_validated_with_java_imageio(spark, tmp_path):
    """Both directions against Java ImageIO: (1) our encode → ImageIO
    decode, (2) ImageIO encode (which emits filtered scanlines) → our
    decode. Pixel-exact both ways proves the codec is real PNG, not a
    self-consistent invention."""
    import numpy as np

    from minio_iceberg_polaris_lakehouse_spark.multimodal import png

    jvm = spark._jvm
    rng = np.random.default_rng(11)

    # ours -> ImageIO
    pixels = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
    p1 = str(tmp_path / "ours.png")
    with open(p1, "wb") as f:
        f.write(png.encode_png(pixels))
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p1))
    assert (img.getWidth(), img.getHeight()) == (17, 13)
    raster = img.getRaster()
    for y in range(13):
        for x in range(17):
            assert raster.getSample(x, y, 0) == int(pixels[y, x]), (x, y)

    # ImageIO -> ours (gradient content makes ImageIO pick non-zero filters)
    grad = (np.add.outer(np.arange(19), np.arange(23)) * 3 % 256).astype(np.uint8)
    bi = jvm.java.awt.image.BufferedImage(23, 19, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    r2 = bi.getRaster()
    for y in range(19):
        for x in range(23):
            r2.setSample(x, y, 0, int(grad[y, x]))
    p2 = str(tmp_path / "theirs.png")
    jvm.javax.imageio.ImageIO.write(bi, "png", jvm.java.io.File(p2))
    with open(p2, "rb") as f:
        ours = png.decode_png(f.read())
    assert ours.shape == (19, 23)
    assert (ours == grad).all()


def test_png_decode_rejects_corruption():
    import numpy as np
    import pytest as _pytest

    from minio_iceberg_polaris_lakehouse_spark.multimodal import png

    blob = bytearray(png.encode_png(np.zeros((4, 4), dtype=np.uint8)))
    with _pytest.raises(ValueError, match="signature"):
        png.decode_png(b"notapng" + bytes(blob))
    blob[20] ^= 0xFF  # flip a byte inside IHDR -> CRC mismatch
    with _pytest.raises(ValueError, match="CRC"):
        png.decode_png(bytes(blob))


def test_decode_features_are_real_pixel_values(spark, sf_dir):
    """mm_decode_features now decodes REAL PNGs: width/height/luma match a
    driver-side recomputation from the same deterministic pixel grid."""
    from minio_iceberg_polaris_lakehouse_spark.multimodal import png
    from minio_iceberg_polaris_lakehouse_spark.multimodal.binary import (
        _doc_pixels,
        decode_assets,
        png_assets_from_documents,
    )

    d = load_table(spark, sf_dir, "documents").limit(30)
    decoded = {r.doc_id: r for r in decode_assets(png_assets_from_documents(d)).collect()}
    for row in d.select("doc_id", "text").collect():
        pixels = _doc_pixels(row.doc_id, row.text.encode("utf-8"))
        want = (pixels.shape[1], pixels.shape[0], png.mean_luma(pixels))
        got = decoded[row.doc_id]
        assert (got.width, got.height, got.mean_luma) == want, row.doc_id


def test_resize_real_png_dimensions_and_content(spark, sf_dir):
    """Resized blobs are valid PNGs of the requested size whose pixels are
    the nearest-neighbor mapping of the source grid."""
    import numpy as np

    from minio_iceberg_polaris_lakehouse_spark.multimodal import png
    from minio_iceberg_polaris_lakehouse_spark.multimodal.binary import (
        _doc_pixels,
        png_assets_from_documents,
        resize_assets,
    )

    d = load_table(spark, sf_dir, "documents").limit(10)
    resized = {r.doc_id: r for r in resize_assets(png_assets_from_documents(d), 64, 48).collect()}
    for row in d.select("doc_id", "text").collect():
        out = png.decode_png(bytes(resized[row.doc_id].blob))
        assert out.shape == (48, 64)
        src = _doc_pixels(row.doc_id, row.text.encode("utf-8"))
        want = png.resize_nearest(src, 64, 48)
        assert (out == np.asarray(want)).all(), row.doc_id


def test_png_golden_rows_match_recomputation():
    """The literal oracle rows of mm_png_decode_roundtrip are what
    tools/mm_golden_expect.py recomputes through the PNG codec (no
    Spark): a codec or corpus change that leaves them stale fails here."""
    tool = runpy.run_path(str(Path(__file__).resolve().parent.parent / "tools/mm_golden_expect.py"))
    assert tool["expected_rows"]() == _PNG_GOLDEN_ROWS
