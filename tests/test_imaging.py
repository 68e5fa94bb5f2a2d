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


def _unfilter_oracle(rows, width, height, bpp):
    """The scalar reference unfilter: every Sub/Average/Paeth byte one at
    a time, straight from the PNG spec's predictor definitions. The law
    tests hold the package decoder bitwise equal to it."""
    stride = width * bpp
    filters = rows[:, 0]
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f = int(filters[y])
        cur = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if f == 0:
            line = cur
        elif f == 2:  # Up
            line = (cur + prev) & 0xFF
        else:
            line = np.zeros(stride, np.int32)
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 1:  # Sub
                    pred = a
                elif f == 3:  # Average
                    pred = (a + b) // 2
                elif f == 4:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad filter {f}")
                line[x] = (cur[x] + pred) & 0xFF
        out[y] = line.astype(np.uint8)
    return out


def _filtered_rows(img, filters):
    """The (H, 1 + stride) scanline matrix of ``img`` (gray (H, W) or RGB
    (H, W, 3)) with row ``y`` written through filter ``filters[y]``."""
    h = img.shape[0]
    bpp = 3 if img.ndim == 3 else 1
    flat = img.reshape(h, -1).astype(np.int32)
    raw = np.empty((h, flat.shape[1] + 1), dtype=np.uint8)
    for y, f in enumerate(filters):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros_like(cur)
        a = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        c = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        p = a + prev - c
        pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
        paeth = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c))
        pred = [0, a, prev, (a + prev) // 2, paeth][f]
        raw[y, 0] = f
        raw[y, 1:] = (cur - pred) & 0xFF
    return raw


def _png_of_rows(raw, w, h, ctype):
    import struct
    import zlib

    from kiri_ocr_spark.imaging.png import _SIGNATURE, _chunk

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + _chunk(b"IEND", b"")
    )


def _encode_filtered(img, filters):
    """PNG bytes of ``img`` with the chosen filter on each row."""
    h, w = img.shape[:2]
    return _png_of_rows(_filtered_rows(img, filters), w, h, 2 if img.ndim == 3 else 0)


def _assert_decodes_like_oracle(img, filters):
    from kiri_ocr_spark.imaging.png import decode_image

    h, w = img.shape[:2]
    raw = _filtered_rows(img, filters)
    got = decode_image(_png_of_rows(raw, w, h, 2 if img.ndim == 3 else 0))
    assert got.dtype == np.uint8 and got.shape == img.shape
    want = _unfilter_oracle(raw, w, h, 3 if img.ndim == 3 else 1)
    assert np.array_equal(got.reshape(h, -1), want)
    assert np.array_equal(got, img)


def test_png_rgb_filters_unfilter_with_bpp_stride():
    """Sub/Average/Paeth on 3-byte pixels predict from the byte 3 LEFT —
    build filtered rows by hand and assert the decoder reverses them."""
    from kiri_ocr_spark.imaging.png import decode_image

    rng = np.random.default_rng(5)
    img = (rng.random((6, 7, 3)) * 255).astype(np.uint8)
    assert (decode_image(_encode_filtered(img, [0, 1, 2, 3, 4, 1])) == img).all()


def _filter_plans(rng, h):
    """Per-row filter plans: uniform random, runs of one filter, every
    filter alone, and Paeth directly after Up."""
    runs = np.repeat(rng.integers(0, 5, size=h), rng.integers(1, 4, size=h))[:h]
    plans = [rng.integers(0, 5, size=h), runs]
    plans += [np.full(h, f) for f in range(5)]
    plans.append(np.resize([2, 4], h))
    return plans


@pytest.mark.parametrize("channels", [1, 3])
def test_png_unfilter_equals_scalar_oracle_on_random_filter_mixes(channels):
    """Law: decode_image is bitwise the scalar oracle on seeded random
    images under seeded per-row filter mixes, gray and RGB, from 1x1 up
    (W=1 RGB has stride == bpp)."""
    rng = np.random.default_rng([11, channels])
    shapes = [(1, 1), (1, 9), (9, 1), (2, 2), (5, 3), (17, 23), (31, 64)]
    for h, w in shapes:
        shape = (h, w) if channels == 1 else (h, w, 3)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for filters in _filter_plans(rng, h):
            _assert_decodes_like_oracle(img, filters)


@pytest.mark.parametrize("invert", [False, True])
def test_png_unfilter_equals_scalar_oracle_on_text_pages(invert):
    """Law on rendered text pages — long flat runs broken by glyph edges,
    the content the engine decodes — under every filter plan, gray and
    tinted RGB."""
    rng = np.random.default_rng([13, invert])
    page = render_page(["hello spark world", "kiri ocr"], invert=invert)
    rgb = np.stack([page, 255 - page // 2, page // 3 + 40], axis=2)
    for img in (page, rgb):
        for filters in _filter_plans(rng, img.shape[0]):
            _assert_decodes_like_oracle(img, filters)


def test_png_bad_filter_byte_raises_and_quarantines_only_its_page():
    """A filter type byte in 5..255 on any row raises ValueError — also
    when every other row is filter 0 — and map_pages turns that page
    alone into None."""
    from kiri_ocr_spark.imaging.png import decode_image
    from kiri_ocr_spark.operators.page import map_pages

    page = render_page(["bad filter"])
    h, w = page.shape
    for mix in (np.zeros(h, int), np.resize([2, 4, 1, 3], h)):
        for y in (0, h // 2, h - 1):
            for bad in (5, 77, 255):
                raw = _filtered_rows(page, mix)
                raw[y, 0] = bad
                with pytest.raises(ValueError, match="bad filter"):
                    decode_image(_png_of_rows(raw, w, h, 0))
    good = _encode_filtered(page, np.resize([2, 4, 1, 3], h))
    raw = _filtered_rows(page, np.zeros(h, int))
    raw[h // 2, 0] = 5
    out = list(map_pages([good, _png_of_rows(raw, w, h, 0), good],
                         lambda gray: gray, oriented=False))
    assert out[1] is None
    assert np.array_equal(out[0], page) and np.array_equal(out[2], page)


def test_png_decoded_arrays_are_writable_and_own_their_memory():
    """Callers write into decoded pages: both the filter-0 fast path and
    the filtered path return fresh writable arrays, never views of the
    inflated buffer."""
    from kiri_ocr_spark.imaging.png import decode_image

    page = render_page(["own it"])
    rgb = np.stack([page] * 3, axis=2)
    for data in (
        encode_gray(page),
        _encode_filtered(page, np.resize([1, 2, 3, 4], page.shape[0])),
    ):
        got = decode_image(data)
        assert got.flags.writeable and got.flags.owndata
    for filters in (np.zeros(page.shape[0], int), np.resize([4, 3, 1], page.shape[0])):
        got = decode_image(_encode_filtered(rgb, filters))
        assert got.flags.writeable and got.base is not None and got.base.flags.owndata


def test_png_malformed_input_fuzz_never_escapes_quarantine():
    """Truncations (every 7th offset) and 200 seeded single-bit flips of
    a gray and an RGB page with random per-row filters: through map_pages
    each one decodes or comes back None; no exception escapes the
    quarantine."""
    from kiri_ocr_spark.operators.page import map_pages

    page = render_page(["fuzz me", "twice"])
    rgb = np.stack([page, page // 2, 255 - page], axis=2)
    rng = np.random.default_rng(17)
    outcomes = []
    for img in (page, rgb):
        data = _encode_filtered(img, rng.integers(0, 5, size=img.shape[0]))
        blobs = [data[:n] for n in range(0, len(data), 7)]
        for bit in rng.integers(0, 8 * len(data), size=200):
            flipped = bytearray(data)
            flipped[bit // 8] ^= 1 << (bit % 8)
            blobs.append(bytes(flipped))
        got = list(map_pages(blobs, lambda gray, ink: gray.shape))
        assert len(got) == len(blobs)
        outcomes += got
    assert any(o is None for o in outcomes)
    assert any(o is not None for o in outcomes)


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
