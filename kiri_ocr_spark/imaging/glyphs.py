"""Deterministic procedural bitmap font + document-line renderer.

Plays the role of the reference's synthetic benchmark renderer
(/root/reference/kiri_ocr/generator.py:166-299,
/root/reference/benchmark/generate_bench_data.py:81-139): render text you
*know*, extract it back, compare — the construction-time oracle. No font
files, no network: each glyph is a unique bitmap derived from
sha256(codepoint), so fixtures are bit-identical across machines and runs
(tier: bitwise by construction — integer raster, no floating point).

Layout contract (what the detector/recognizer rely on):
- every glyph covers every row and every column of its GLYPH_W x GLYPH_H
  cell with at least one ink pixel (so line bands and glyph cells are
  exactly recoverable from projections);
- glyphs within a line are separated by CHAR_GAP blank unit-columns, words
  by SPACE_GAP blank unit-columns;
- lines are separated by LINE_GAP blank unit-rows;
- the page is rendered dark-on-light (ink=0, bg=255), scaled by an integer
  factor via pixel replication, padded by PAD_X/PAD_Y; optionally inverted
  to exercise the reference's dark-background heuristic
  (/root/reference/kiri_ocr/core.py:523-525).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

GLYPH_W = 6
GLYPH_H = 10
CHAR_GAP = 1  # blank unit-columns between glyphs in a word
SPACE_GAP = 4  # blank unit-columns for a space
LINE_GAP = 4  # blank unit-rows between lines
PAD_X = 20
PAD_Y = 10
SCALE = 2  # default integer render scale

# ASCII printable (excluding space, which renders as a gap) + Khmer
# consonants/independent vowels (U+1780-U+17B3, per the reference's Khmer
# range check /root/reference/kiri_ocr/generator.py:91). Combining Khmer
# vowel signs are excluded so NFC normalization never rewrites fixture text.
CHARSET = [chr(c) for c in range(33, 127)] + [chr(c) for c in range(0x1780, 0x17B4)]


def _glyph_bitmap(cp: int) -> np.ndarray:
    """Deterministic GLYPH_H x GLYPH_W boolean bitmap for one codepoint."""
    for salt in range(64):
        digest = hashlib.sha256(f"kiri-glyph:{cp}:{salt}".encode()).digest()
        bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
        g = bits[: GLYPH_H * GLYPH_W].reshape(GLYPH_H, GLYPH_W).astype(bool)
        # guarantee full row/column coverage so projections are exact
        for r in range(GLYPH_H):
            if not g[r].any():
                g[r, (cp + salt + r) % GLYPH_W] = True
        for c in range(GLYPH_W):
            if not g[:, c].any():
                g[(cp + salt + c) % GLYPH_H, c] = True
        if 0 < g.sum() < GLYPH_H * GLYPH_W:
            return g
    raise RuntimeError(f"could not derive glyph for codepoint {cp}")


@lru_cache(maxsize=1)
def glyph_table() -> dict[str, np.ndarray]:
    """char -> unit-scale bitmap; collision-checked (all glyphs distinct)."""
    table: dict[str, np.ndarray] = {}
    seen: dict[bytes, str] = {}
    for ch in CHARSET:
        g = _glyph_bitmap(ord(ch))
        key = np.packbits(g).tobytes()
        if key in seen:  # deterministic collision resolution
            for salt in range(64, 4096):
                digest = hashlib.sha256(f"kiri-glyph:{ord(ch)}:{salt}".encode()).digest()
                bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
                g = bits[: GLYPH_H * GLYPH_W].reshape(GLYPH_H, GLYPH_W).astype(bool)
                for r in range(GLYPH_H):
                    if not g[r].any():
                        g[r, (ord(ch) + salt + r) % GLYPH_W] = True
                for c in range(GLYPH_W):
                    if not g[:, c].any():
                        g[(ord(ch) + salt + c) % GLYPH_H, c] = True
                key = np.packbits(g).tobytes()
                if key not in seen:
                    break
            else:
                raise RuntimeError(f"glyph collision unresolvable for {ch!r}")
        seen[key] = ch
        table[ch] = g
    return table


@lru_cache(maxsize=1)
def template_index() -> dict[bytes, str]:
    """packed-bitmap-bytes -> char; the recognizer's 'weights'."""
    return {np.packbits(g).tobytes(): ch for ch, g in glyph_table().items()}


def render_line_units(text: str) -> np.ndarray:
    """Render one line of text at unit scale -> boolean ink bitmap."""
    table = glyph_table()
    cols: list[np.ndarray] = []
    first = True
    for ch in text:
        if ch == " ":
            cols.append(np.zeros((GLYPH_H, SPACE_GAP), dtype=bool))
            first = True
            continue
        if not first:
            cols.append(np.zeros((GLYPH_H, CHAR_GAP), dtype=bool))
        g = table.get(ch)
        if g is None:
            raise KeyError(f"char {ch!r} (U+{ord(ch):04X}) not in fixture charset")
        cols.append(g)
        first = False
    if not cols:
        cols = [np.zeros((GLYPH_H, GLYPH_W), dtype=bool)]
    return np.concatenate(cols, axis=1)


def render_page(lines: list[str], scale: int = SCALE, invert: bool = False) -> np.ndarray:
    """Render text lines into a uint8 grayscale page (ink 0, bg 255)."""
    units = [render_line_units(ln) for ln in lines]
    width = max(u.shape[1] for u in units)
    rows: list[np.ndarray] = []
    for i, u in enumerate(units):
        if i > 0:
            rows.append(np.zeros((LINE_GAP, width), dtype=bool))
        padded = np.zeros((GLYPH_H, width), dtype=bool)
        padded[:, : u.shape[1]] = u
        rows.append(padded)
    ink = np.concatenate(rows, axis=0)
    ink = np.kron(ink, np.ones((scale, scale), dtype=bool))
    page = np.full(
        (ink.shape[0] + 2 * PAD_Y, ink.shape[1] + 2 * PAD_X), 255, dtype=np.uint8
    )
    page[PAD_Y : PAD_Y + ink.shape[0], PAD_X : PAD_X + ink.shape[1]][ink] = 0
    if invert:
        page = (255 - page).astype(np.uint8)
    return page
