"""Multimodal column plumbing (binary payloads + typed metadata)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kiri_ocr_spark.fixtures import build_fixture
from kiri_ocr_spark.operators.multimodal import (
    dhash_gray,
    with_image_dhash,
    with_png_meta,
)


@pytest.fixture(scope="module")
def media(spark, sf_tiny):
    _, m = build_fixture(spark, sf_tiny)
    return m.cache()


def test_png_meta_native_parse_matches_render(spark, media):
    """IHDR width/height parsed with pure expressions == renderer output."""
    meta = with_png_meta(media.select("media_ref", "png_bytes",
                                      F.col("width").alias("w_true"),
                                      F.col("height").alias("h_true")))
    bad = meta.filter(
        (~F.col("is_png"))
        | (F.col("width") != F.col("w_true"))
        | (F.col("height") != F.col("h_true"))
        | (F.col("bit_depth") != 8)
        | (~F.col("color_type").isin(0, 2))
    )
    assert bad.count() == 0
    # the fixture ships both encodings: gray (type 0) and tinted truecolor
    types = {r.color_type for r in meta.select("color_type").distinct().collect()}
    assert types == {0, 2}


def test_png_meta_non_png_payload(spark):
    df = spark.createDataFrame(
        [("x", bytearray(b"not a png at all........"))],
        "media_ref string, png_bytes binary",
    )
    row = with_png_meta(df).first()
    assert row.is_png is False and row.width is None and row.height is None


def test_png_meta_plan_has_no_python(spark, media):
    plan = with_png_meta(media)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # native expressions only


def test_dhash_deterministic_and_discriminative():
    rng = np.random.default_rng(7)
    img = (rng.random((40, 90)) * 255).astype(np.uint8)
    assert dhash_gray(img) == dhash_gray(img)
    assert len(dhash_gray(img)) == 72  # 288 bits hex
    other = img.copy()
    other[:20] = 255 - other[:20]
    assert dhash_gray(img) != dhash_gray(other)
    # near-scale-invariance on a STRUCTURED image (noise images have
    # coin-flip gradient signs): 2x nearest upscale of a rendered page
    # flips only a few of the 288 bits, far below the ~144 of an
    # unrelated image
    from kiri_ocr_spark.imaging.glyphs import render_page

    page = render_page(["hello world", "spark graft"])
    up = np.kron(page, np.ones((2, 2), dtype=np.uint8))
    a = np.unpackbits(np.frombuffer(bytes.fromhex(dhash_gray(page)), np.uint8))
    b = np.unpackbits(np.frombuffer(bytes.fromhex(dhash_gray(up)), np.uint8))
    assert (a != b).sum() <= 20


def test_image_dhash_groups_match_construction(spark, media):
    """refs rendering identical (text, invert) pages share a dhash."""
    hashes = with_image_dhash(media)
    joined = hashes.join(media.select("media_ref", "png_bytes"), "media_ref")
    by_bytes = joined.groupBy(F.md5(F.col("png_bytes")).alias("k")).agg(
        F.countDistinct("dhash").alias("n")
    )
    assert by_bytes.filter(F.col("n") != 1).count() == 0
