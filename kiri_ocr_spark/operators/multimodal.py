"""Multimodal columns: opaque binary payloads + typed metadata (SURVEY §1.3).

A 100 TB training-data lake stores image/audio/video as opaque ``binary``
columns with typed metadata structs; compute-heavy decode/feature stages are
Arrow-batched ``mapInPandas`` kernels. This module provides:

- ``with_png_meta``      — PNG IHDR parse (width/height/bit depth/color
                           type) as NATIVE column expressions: zero Python,
                           whole-stage codegen, pushdown-friendly. The
                           fixture media table's construction-known width/
                           height make this oracle-checkable end-to-end.
- ``with_image_dhash``   — perceptual difference-hash over the decoded
                           grayscale: mean-pool to a 13x13 grid, signs of
                           the horizontal and vertical gradients (288
                           bits, ``dhash_gray``). Real decode (our PNG
                           codec), Arrow-batched. The standard
                           image-near-dup primitive.

Audio and video decoding and feature extraction are not implemented:
the package's only codec is PNG, so those modalities have no kernel. The
recognizer's fixed-height input contract is
``detect.resize_keep_ratio_pad``, not a column-level resize.

Reference parity note: the reference treats images as cv2 ndarrays loaded
per-path (/root/reference/kiri_ocr/core.py:762-764); binary-column +
metadata is the table-native re-expression.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- PNG IHDR metadata: native expressions only ---------------------------

_PNG_MAGIC_HEX = "89504E470D0A1A0A"


def png_field(bytes_col: str, offset_1based: int, nbytes: int) -> Column:
    """Big-endian unsigned int from PNG bytes at a fixed offset (native)."""
    return F.expr(
        f"cast(conv(hex(substring({bytes_col}, {offset_1based}, {nbytes})),"
        f" 16, 10) as int)"
    )


def with_png_meta(df: DataFrame, bytes_col: str = "png_bytes") -> DataFrame:
    """Attach (is_png, width, height, bit_depth, color_type) parsed from the
    IHDR chunk — pure Catalyst expressions, no UDF. Non-PNG payloads get
    is_png=false and NULL dims."""
    is_png = F.expr(f"hex(substring({bytes_col}, 1, 8))") == _PNG_MAGIC_HEX
    return (
        df.withColumn("is_png", is_png)
        .withColumn("width", F.when(is_png, png_field(bytes_col, 17, 4)))
        .withColumn("height", F.when(is_png, png_field(bytes_col, 21, 4)))
        .withColumn("bit_depth", F.when(is_png, png_field(bytes_col, 25, 1)))
        .withColumn("color_type", F.when(is_png, png_field(bytes_col, 26, 1)))
    )


# --- image dHash (real decode, Arrow-batched) ------------------------------

DHASH_SCHEMA = "media_ref string, dhash string"


def dhash_gray(gray: np.ndarray, grid: int = 12) -> str:
    """Perceptual difference hash: mean-pool to (grid+1)x(grid+1) via an
    integral image, emit horizontal AND vertical gradient sign bits
    (2*grid^2 bits; 288 at the default). The h+v variant of classic
    64-bit dHash — measured collision-free across all distinct fixture
    pages at sf0.1 where horizontal-only at grid 8 merged 10 groups."""
    g1 = grid + 1
    h, w = gray.shape
    ys = (np.arange(g1 + 1) * h) // g1
    xs = (np.arange(g1 + 1) * w) // g1
    ii = np.pad(gray.astype(np.float64), ((1, 0), (1, 0))).cumsum(0).cumsum(1)
    sums = (
        ii[ys[1:, None], xs[None, 1:]]
        - ii[ys[:-1, None], xs[None, 1:]]
        - ii[ys[1:, None], xs[None, :-1]]
        + ii[ys[:-1, None], xs[None, :-1]]
    )
    areas = np.maximum(
        (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1]), 1
    )
    pooled = sums / areas
    hbits = (pooled[:grid, :grid] > pooled[:grid, 1:]).ravel()
    vbits = (pooled[:grid, :grid] > pooled[1:, :grid]).ravel()
    return np.packbits(np.concatenate([hbits, vbits])).tobytes().hex()


def _dhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, png_bytes) -> (media_ref, dhash) of the page as stored;
    a quarantined page keeps its row with dhash NULL."""
    from .page import map_pages

    for pdf in batches:
        hashes = list(map_pages(pdf["png_bytes"], dhash_gray, oriented=False))
        yield pd.DataFrame({"media_ref": pdf["media_ref"], "dhash": hashes})


def with_image_dhash(
    df: DataFrame, bytes_col: str = "png_bytes", ref_col: str = "media_ref"
) -> DataFrame:
    """(media_ref, dhash) via mapInPandas; input bytes are projected away."""
    return df.select(
        F.col(ref_col).alias("media_ref"), F.col(bytes_col).alias("png_bytes")
    ).mapInPandas(_dhash_batches, schema=DHASH_SCHEMA)

