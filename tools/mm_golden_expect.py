"""Recompute the pinned expectations for mm_png_decode_roundtrip
(multimodal/binary.py:_PNG_GOLDEN_ROWS) after a deliberate change to the
corpus, _doc_pixels, or the PNG codec. Pure Python — no Spark.
tests/test_multimodal.py checks that the pinned rows equal
``expected_rows()``.

    python tools/mm_golden_expect.py"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from minio_iceberg_polaris_lakehouse_spark.multimodal import png
from minio_iceberg_polaris_lakehouse_spark.multimodal.binary import (
    _PNG_GOLDEN_DOCS,
    _doc_pixels,
)


def expected_rows() -> list[tuple[int, int, int, int]]:
    """(doc_id, width, height, mean_luma) of each golden document after a
    PNG encode → decode round trip."""
    rows = []
    for did, text in _PNG_GOLDEN_DOCS:
        px = _doc_pixels(did, text.encode("utf-8"))
        dec = png.decode_png(png.encode_png(px))
        assert (dec == px).all(), f"roundtrip mismatch for doc {did}"
        h, w = dec.shape[:2]
        rows.append((did, w, h, png.mean_luma(dec)))
    return rows


if __name__ == "__main__":
    for row in expected_rows():
        print(f"    {row},")
