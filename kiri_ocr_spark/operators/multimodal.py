"""Multimodal columns: opaque binary payloads + typed metadata (SURVEY §1.3).

A 100 TB training-data lake stores image/audio/video as opaque ``binary``
columns with typed metadata structs; compute-heavy decode/feature stages are
Arrow-batched ``mapInPandas`` kernels. This module provides:

- ``with_png_meta``      — PNG IHDR parse (width/height/bit depth/color
                           type) as NATIVE column expressions: zero Python,
                           whole-stage codegen, pushdown-friendly. The
                           fixture media table's construction-known width/
                           height make this oracle-checkable end-to-end.
- ``with_image_dhash``   — perceptual difference-hash (dHash, 64-bit) over
                           the decoded grayscale: mean-pool to a 9x8 grid,
                           sign of horizontal gradient. Real decode (our
                           PNG codec), Arrow-batched. The standard
                           image-near-dup primitive.
- ``resize_images``      — nearest-neighbor resize to a fixed cell inside
                           mapInPandas; re-encoded PNG out, bytes projected
                           away by the caller ASAP (§4.3 binary hygiene).
- ``audio_features`` / ``video_frame_sample`` — the container has no
                           audio/video codecs, so the DECODE step is a
                           clearly-marked deterministic fake (sha256-seeded
                           synthetic waveform / frame set, or
                           NotImplementedError when fake=False); the Spark
                           plumbing — schema, batch shape, partitioning —
                           is real and tested, and a real codec drops into
                           the marked seam without touching the dataflow.

Reference parity note: the reference treats images as cv2 ndarrays loaded
per-path (/root/reference/kiri_ocr/core.py:762-764); binary-column +
metadata is the table-native re-expression.
"""

from __future__ import annotations

import hashlib
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


RESIZE_SCHEMA = "media_ref string, png_bytes binary, width int, height int"


def _resize_batches(out_h: int, out_w: int):
    """(media_ref, png_bytes) -> the page as stored, nearest-neighbor
    resized to out_h x out_w and re-encoded; a quarantined page keeps its
    row with png_bytes, width and height NULL."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..imaging.png import encode_gray
        from .page import map_pages

        def resize(img: np.ndarray) -> bytes:
            h, w = img.shape
            yi = (np.arange(out_h) * h) // out_h
            xi = (np.arange(out_w) * w) // out_w
            return encode_gray(img[yi][:, xi])

        for pdf in batches:
            blobs = list(map_pages(pdf["png_bytes"], resize, oriented=False))
            ok = [b is not None for b in blobs]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "png_bytes": blobs,
                    "width": pd.array([out_w if k else None for k in ok], dtype="Int32"),
                    "height": pd.array([out_h if k else None for k in ok], dtype="Int32"),
                }
            )

    return fn


def resize_images(
    df: DataFrame, out_h: int = 48, out_w: int = 160,
    bytes_col: str = "png_bytes", ref_col: str = "media_ref",
) -> DataFrame:
    """Nearest-neighbor resize to a fixed cell (the recognizer-input-contract
    analogue of the reference's resize-keep-ratio-pad, model.py:311-331)."""
    return df.select(
        F.col(ref_col).alias("media_ref"), F.col(bytes_col).alias("png_bytes")
    ).mapInPandas(_resize_batches(out_h, out_w), schema=RESIZE_SCHEMA)


# --- audio / video: typed plumbing with a stubbed decode seam ---------------

AUDIO_SCHEMA = (
    "media_ref string, sample_rate int, n_samples int, "
    "rms double, peak double, zero_crossings int"
)
VIDEO_SCHEMA = (
    "media_ref string, frame_idx int, frame_png binary, "
    "frame_ms int, width int, height int"
)


def _fake_waveform(payload: bytes, n_samples: int = 4096) -> np.ndarray:
    """Deterministic stand-in decode: sha256-seeded waveform in [-1, 1].
    STUB — replace with a real codec (soundfile/ffmpeg) at the same seam."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return (rng.random(n_samples) * 2.0 - 1.0).astype(np.float64)


def audio_features(
    df: DataFrame, *, fake: bool = True,
    bytes_col: str = "png_bytes", ref_col: str = "media_ref",
) -> DataFrame:
    """Per-clip audio features over an opaque binary column. The decode step
    is the only fake part (no audio codec in this container); the schema,
    Arrow batching and feature math are the production dataflow."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, b in zip(pdf[ref_col], pdf[bytes_col]):
                if not fake:
                    raise NotImplementedError(
                        "real audio decode needs soundfile/ffmpeg; "
                        "this container ships neither (decode seam)"
                    )
                wave = _fake_waveform(bytes(b))
                rows.append(
                    {
                        "media_ref": ref,
                        "sample_rate": 16000,
                        "n_samples": int(wave.size),
                        "rms": float(np.sqrt((wave**2).mean())),
                        "peak": float(np.abs(wave).max()),
                        "zero_crossings": int(
                            (np.diff(np.signbit(wave)) != 0).sum()
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(ref_col, bytes_col).mapInPandas(fn, schema=AUDIO_SCHEMA)


def video_frame_sample(
    df: DataFrame, *, every_ms: int = 1000, n_frames: int = 3, fake: bool = True,
    bytes_col: str = "png_bytes", ref_col: str = "media_ref",
) -> DataFrame:
    """1->N frame sampling over an opaque video column. Fake decode derives
    each frame deterministically from the payload hash; real decode plugs in
    at the marked seam. Output frames are (tiny) PNGs with metadata."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..imaging.png import encode_gray

        for pdf in batches:
            rows = []
            for ref, b in zip(pdf[ref_col], pdf[bytes_col]):
                if not fake:
                    raise NotImplementedError(
                        "real video decode needs ffmpeg/pyav; "
                        "this container ships neither (decode seam)"
                    )
                digest = hashlib.sha256(bytes(b)).digest()
                for i in range(n_frames):
                    seed = int.from_bytes(digest[:6], "big") + i
                    rng = np.random.default_rng(seed)
                    frame = (rng.random((16, 16)) * 255).astype(np.uint8)
                    rows.append(
                        {
                            "media_ref": ref,
                            "frame_idx": i,
                            "frame_png": encode_gray(frame),
                            "frame_ms": i * every_ms,
                            "width": 16,
                            "height": 16,
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select(ref_col, bytes_col).mapInPandas(fn, schema=VIDEO_SCHEMA)
