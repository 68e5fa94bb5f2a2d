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
standard row filters (None/Sub/Up/Average/Paeth), no interlace.
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


def _unfilter(rows: np.ndarray, width: int, height: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG row filters; ``a``/``c`` neighbors sit ``bpp``
    bytes left (1 for gray, 3 for RGB)."""
    stride = width * bpp
    filters = rows[:, 0]
    out = np.zeros((height, stride), dtype=np.uint8)
    if not filters.any():
        # fast path: all rows filter 0 (what _encode writes)
        out[:] = rows[:, 1:]
        return out
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
    out = _unfilter(rows, width, height, bpp)
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
