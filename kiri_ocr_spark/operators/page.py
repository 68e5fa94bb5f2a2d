"""The page front every PNG kernel shares: read a payload into an
oriented gray page and its ink mask, run a per-page function under the
one quarantine policy, and cut recognizer-ready line crops.

    read_gray   payload -> decode_gray, the page as stored
    read_page   read_gray -> orient_and_binarize -> (gray, ink)
    map_pages   the quarantine loop: fn(gray, ink) (or fn(gray) on the page
                as stored) per page, None when the payload is missing or
                corrupt
    tight_box   a detector box shrunk to the ink inside it
    line_crop   the trained recognizer's crop contract
                (pad_training_margins + resize_keep_ratio_pad)
    line_finder a detector name -> fn(gray, ink) -> (n, 5) line boxes
    read_lines  the per-page line step: per box ("", 0.0), the template
                recognizer's (text, conf), or a line_crop to decode
    page_kernel decode -> orient/binarize -> detect -> crop -> recognize,
                the kernel of every line-recognizing query

Spark-free: the OCR class and the CLI import it without pyspark.
"""

from __future__ import annotations

import struct
import time
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np

from ..imaging.png import decode_gray
from . import detect
from .recognize import recognize_line

# the per-row quarantine policy of every page kernel — each failure mode
# of a missing or corrupt-but-magic-valid payload: bad magic / missing
# IHDR / oversize or empty IHDR / NULL payload / inflated size off the
# IHDR geometry / row filter type outside 0..4 (ValueError), truncated
# chunk header (struct.error), corrupt/truncated IDAT (zlib.error). No
# decode step raises IndexError/KeyError; they guard the per-page fn
_QUARANTINE = (ValueError, KeyError, IndexError, struct.error, zlib.error)


def read_gray(blob) -> np.ndarray:
    """PNG payload -> the decoded gray page as stored, neither oriented
    nor binarized. A None payload (missing from the store) raises
    ValueError like any other unreadable page."""
    if blob is None:
        raise ValueError("missing media payload")
    return decode_gray(bytes(blob))


def read_page(blob) -> tuple[np.ndarray, np.ndarray]:
    """PNG payload -> ``(gray, ink)``: the decoded page oriented
    dark-ink-on-light and its Otsu ink mask."""
    return detect.orient_and_binarize(read_gray(blob))


def map_pages(blobs: Iterable, fn: Callable, oriented: bool = True) -> Iterator:
    """Yield ``fn(gray, ink)`` per payload (``fn(gray)`` on the page as
    stored when not ``oriented``), or None for a page whose read or
    ``fn`` raises a ``_QUARANTINE`` error: one corrupt payload among
    10^12 docs must cost only its own row, never the task."""
    for blob in blobs:
        try:
            out = fn(*read_page(blob)) if oriented else fn(read_gray(blob))
        except _QUARANTINE:
            out = None
        yield out


def tight_box(ink: np.ndarray, box) -> tuple[int, int, int, int] | None:
    """``(x, y, w, h)`` of the ink inside ``box``, or None when the box
    holds no ink (its line reads as ``("", 0.0)``). Detector paddings vary
    by method; the template recognizer's unit-scale subsampling needs the
    crop on the glyph grid, and line_crop re-pads a tight crop."""
    x, y, w, h = (int(v) for v in box[:4])
    x0, y0 = max(x, 0), max(y, 0)
    sub = ink[y0 : y + h, x0 : x + w]
    rows = np.flatnonzero(sub.any(axis=1))
    if rows.size == 0:
        return None
    cols = np.flatnonzero(sub.any(axis=0))
    return (
        x0 + int(cols[0]),
        y0 + int(rows[0]),
        int(cols[-1] - cols[0]) + 1,
        int(rows[-1] - rows[0]) + 1,
    )


def line_crop(gray: np.ndarray, box) -> np.ndarray:
    """The trained artifact's crop contract for one line box: restore the
    renderer's background margins, then resize to the 48x640 input."""
    x, y, w, h = (int(v) for v in box[:4])
    # attribute lookups at call time: tests swap detect's functions
    return detect.resize_keep_ratio_pad(
        detect.pad_training_margins(gray[y : y + h, x : x + w])
    )


def line_finder(det_method: str) -> Callable:
    """``find(gray, ink) -> (n, 5)`` x y w h conf line boxes in reading
    order: 'projection' = detect.detect_lines (the CC + projection-profile
    exactness path); 'legacy' | 'db' | 'craft' =
    TextDetector(method).detect_line_boxes (the reference's
    process_document(method=...), detector/__init__.py:161-192). db scores
    boxes by component pixels (det_db_score_mode='slow', DBNet's
    box_score_slow): the fast quad-mean drops a fused two-stacked-lines
    component whose minAreaRect spans the inter-line gap, which
    detect_line_boxes' band split would separate. The bare facade keeps
    the reference's fast default."""
    if det_method == "projection":
        return lambda gray, ink: detect.detect_lines(gray, ink=ink)
    from .facade import TextDetector

    det_kwargs = {"det_db_score_mode": "slow"} if det_method == "db" else {}
    return TextDetector(method=det_method, **det_kwargs).detect_line_boxes


def read_lines(gray: np.ndarray, ink: np.ndarray, boxes, template: bool) -> Iterator:
    """The per-page line step, one item per detector box in order:
    ``("", 0.0)`` for a box without ink; else the glyph-template
    recognizer's ``(text, conf)`` on the box's tight ink when
    ``template``, or the tight box's line_crop (an ndarray) for the
    caller's trained decode."""
    for box in boxes:
        tight = tight_box(ink, box)
        if tight is None:
            yield "", 0.0
        elif template:
            yield recognize_line(ink, tight)
        else:
            yield line_crop(gray, tight)


def page_kernel(
    model_path: str | None, det_method: str = "legacy", decode_method: str = "ctc"
):
    """The one page kernel every line-recognizing query runs: read ->
    line_finder -> read_lines -> decode the batch's crops.

    Returns ``ocr(blobs, memo) -> (lines, row_us)``: ``lines[i]`` is page
    i's ``[(text, conf), ...]`` in reading order, or None when the page is
    quarantined; ``row_us[i]`` is page i's own kernel time in µs. Build it
    executor-side (inside the mapInPandas function): it loads the model.

    ``det_method``: 'legacy' (the projection finder) | 'db' | 'craft'.

    ``model_path`` None: the glyph-template recognizer (``memo`` is
    unused, the template path memoizes per worker). Otherwise the trained
    transformer (core.py:719-793 always decodes through the model): the
    line crops are stacked ACROSS the batch's pages into one
    decode_crops_memo call (``decode_method`` 'ctc' or 'beam'); ``memo``
    is its caller-owned, per-partition memo. The model loads once per
    Python worker (M8 get_model cache)."""
    model = None
    if model_path is not None:
        from .model import decode_crops_memo, get_model

        model = get_model(path=model_path)
    # engine 'legacy' is the projection finder (span extraction, batch CLI)
    find = line_finder("projection" if det_method == "legacy" else det_method)

    def page(gray: np.ndarray, ink: np.ndarray) -> list:
        # a page's crops wait for the batch decode
        return list(read_lines(gray, ink, find(gray, ink), model is None))

    def ocr(blobs, memo: dict) -> tuple[list, list[int]]:
        pages: list = []
        row_us: list[int] = []
        # true per-row kernel time, stamped per page: summing it over any
        # row grouping (e.g. checkpoint part_id) yields that group's
        # actual kernel wall — heavy rows carry their own cost
        t_prev = time.monotonic()
        for out in map_pages(blobs, page):
            pages.append(out)
            t_now = time.monotonic()
            row_us.append(int((t_now - t_prev) * 1_000_000))
            t_prev = t_now
        if model is None:
            return pages, row_us
        crops = [c for p in pages if p for c in p if isinstance(c, np.ndarray)]
        # one stacked decode for the whole batch (ENCODE_CHUNK-sized fp32
        # encodes); its cost is spread over the owning rows
        decoded = iter(
            decode_crops_memo(model, crops, memo, method=decode_method) if crops else ()
        )
        per = int((time.monotonic() - t_prev) * 1_000_000 / max(len(crops), 1))
        lines = []
        for i, p in enumerate(pages):
            if p is not None:
                row_us[i] += per * sum(isinstance(c, np.ndarray) for c in p)
                p = [next(decoded) if isinstance(c, np.ndarray) else c for c in p]
            lines.append(p)
        return lines, row_us

    return ocr
