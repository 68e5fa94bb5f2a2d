"""PNG codec + glyph font unit tests (no Spark)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kiri_ocr_spark.imaging.glyphs import (
    CHARSET,
    GLYPH_H,
    GLYPH_W,
    glyph_table,
    render_line_units,
    render_page,
    template_index,
)
from kiri_ocr_spark.imaging.png import decode_gray, encode_gray


def test_png_roundtrip_exact():
    rng = np.random.RandomState(42)
    for shape in [(1, 1), (7, 3), (48, 640), (131, 77)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        assert (decode_gray(encode_gray(img)) == img).all()


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 60), st.integers(1, 60), st.integers(0, 2**31 - 1))
def test_png_roundtrip_property(h, w, seed):
    img = np.random.RandomState(seed).randint(0, 256, size=(h, w), dtype=np.uint8)
    assert (decode_gray(encode_gray(img)) == img).all()


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        decode_gray(b"not a png at all")


def test_glyphs_unique_and_full_coverage():
    table = glyph_table()
    assert len(table) == len(CHARSET)
    seen = set()
    for ch, g in table.items():
        assert g.shape == (GLYPH_H, GLYPH_W)
        assert g.any(axis=1).all(), f"{ch!r} missing a row"
        assert g.any(axis=0).all(), f"{ch!r} missing a column"
        key = np.packbits(g).tobytes()
        assert key not in seen, f"glyph collision for {ch!r}"
        seen.add(key)
    assert len(template_index()) == len(CHARSET)


def test_render_line_deterministic():
    a = render_line_units("hello world")
    b = render_line_units("hello world")
    assert (a == b).all()
    assert a.shape[0] == GLYPH_H


def test_render_page_geometry_and_invert():
    page = render_page(["ab", "cd"], scale=2)
    assert page.dtype == np.uint8
    assert set(np.unique(page)) <= {0, 255}
    inv = render_page(["ab", "cd"], scale=2, invert=True)
    assert (inv == 255 - page).all()
    # dark-background heuristic trigger: inverted page is mostly dark
    assert inv.mean() < 127 < page.mean()


def test_png_rgb_roundtrip_and_luma_projection():
    """Color type 2 round-trips exactly; decode_gray on a color PNG equals
    the BT.601 luma projection (the reference's load-then-BGR2GRAY path)."""
    from kiri_ocr_spark.imaging.png import (
        decode_gray,
        decode_image,
        decode_rgb,
        encode_rgb,
        rgb_to_gray,
    )

    rng = np.random.default_rng(3)
    img = (rng.random((17, 23, 3)) * 255).astype(np.uint8)
    data = encode_rgb(img)
    assert (decode_image(data) == img).all()
    assert (decode_rgb(data) == img).all()
    assert (decode_gray(data) == rgb_to_gray(img)).all()
    # grayscale PNGs channel-stack through decode_rgb
    from kiri_ocr_spark.imaging.png import encode_gray

    g = (rng.random((9, 11)) * 255).astype(np.uint8)
    assert (decode_rgb(encode_gray(g)) == np.repeat(g[:, :, None], 3, 2)).all()


def test_png_rgb_filters_unfilter_with_bpp_stride():
    """Sub/Average/Paeth on 3-byte pixels predict from the byte 3 LEFT —
    build filtered rows by hand and assert the decoder reverses them."""
    import struct
    import zlib

    from kiri_ocr_spark.imaging.png import _SIGNATURE, _chunk, decode_image

    rng = np.random.default_rng(5)
    img = (rng.random((6, 7, 3)) * 255).astype(np.uint8)
    h, w = img.shape[:2]
    bpp, stride = 3, 7 * 3
    flat = img.reshape(h, stride).astype(np.int32)
    raws = []
    for y, f in enumerate([0, 1, 2, 3, 4, 1]):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, np.int32)
        filt = np.zeros(stride, np.int32)
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        raws.append(bytes([f]) + bytes(filt.astype(np.uint8)))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + _chunk(b"IEND", b"")
    )
    assert (decode_image(data) == img).all()


def test_png_zlib_bomb_rejected_fast_with_bounded_memory():
    """A 100x100 page whose IDAT inflates to 400 MB is rejected after
    inflating one byte past the declared size, not after inflating all."""
    import struct
    import time
    import tracemalloc
    import zlib

    from kiri_ocr_spark.imaging.png import _SIGNATURE, _chunk

    comp = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    idat = b"".join(comp.compress(zeros) for _ in range(400)) + comp.flush()
    ihdr = struct.pack(">IIBBBBB", 100, 100, 8, 0, 0, 0, 0)
    data = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )
    tracemalloc.start()
    t0 = time.perf_counter()
    try:
        with pytest.raises(ValueError, match="bad IDAT payload size"):
            decode_gray(data)
        elapsed = time.perf_counter() - t0
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert elapsed < 0.05
    assert peak < 1 << 20


def test_png_rejects_zero_pixel_ihdr():
    """An IHDR with a zero dimension is invalid PNG; decoding it to an
    empty page would divide by zero in the recognizer's resize."""
    import struct
    import zlib

    from kiri_ocr_spark.imaging.png import _SIGNATURE, _chunk

    ihdr = struct.pack(">IIBBBBB", 5, 0, 8, 0, 0, 0, 0)
    data = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b""))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IHDR size"):
        decode_gray(data)


def test_png_oversize_ihdr_rejected_before_inflating():
    """A page declaring 60000x60000 (3.6 G pixels, over the pixel cap)
    over a 120 MiB zero stream is rejected from its IHDR alone: nothing
    is inflated."""
    import struct
    import time
    import tracemalloc
    import zlib

    from kiri_ocr_spark.imaging.png import _SIGNATURE, _chunk

    comp = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    idat = b"".join(comp.compress(zeros) for _ in range(120)) + comp.flush()
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0)
    data = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )
    tracemalloc.start()
    t0 = time.perf_counter()
    try:
        with pytest.raises(ValueError, match="IHDR size"):
            decode_gray(data)
        elapsed = time.perf_counter() - t0
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert elapsed < 0.05
    assert peak < 1 << 20
