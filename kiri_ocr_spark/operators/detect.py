"""Text-line detection kernels (pure numpy, run per-image inside UDFs).

Semantics re-expressed from the reference's legacy detector
(/root/reference/kiri_ocr/detector/legacy/detector.py) and facade
(/root/reference/kiri_ocr/detector/__init__.py):

- ``invert_if_dark``   P2: mean<127 -> invert (core.py:523-525,678-681)
- ``otsu_threshold``   F10: Otsu global binarization (legacy:403-440) —
  the one binarization every detector runs (``binarize`` /
  ``orient_and_binarize``); the reference's multi-candidate bank and its
  CC-statistics top-k selection (F9/F11/F12, A1/A2) are not implemented
- ``detect_lines``     F13 + projection profile: connected components +
  row-projection line bands — the north_star's
  "connected-component + projection-profile line segmentation"
- ``group_into_lines`` W3: sort by cy, adaptive tolerance 0.6*median_h
  (legacy:750-792)
- ``reading_order``    W1: group by cy (running mean, 0.7*median_h), sort
  within line by center x (detector/__init__.py:245-291)
- ``split_words``      the glyph-raster word rule: ``unit_grid``
  blank-column runs >= WORD_GAP_UNITS (renderer SPACE_GAP contract), the
  rule ``recognize.recognize_line`` spaces words by; the reference's
  gap-statistics word split (W5, legacy:848-904) is not implemented
"""

from __future__ import annotations

import numpy as np

from ..imaging.glyphs import GLYPH_H


def invert_if_dark(gray: np.ndarray) -> np.ndarray:
    """Light-text-on-dark heuristic: if mean < 127, invert (P2)."""
    if float(gray.mean()) < 127.0:
        return (255 - gray).astype(np.uint8)
    return gray


_BIN_IDX = np.arange(256, dtype=np.float64)


def _otsu_from_hist(hist: np.ndarray) -> float:
    """Otsu's threshold from a 256-bin float histogram. masked np.divide
    instead of an errstate context (the context manager alone cost ~10 µs
    per call — material at ~100 µs/image kernel budget); values equal
    the previous where/errstate form (tier: bitwise, no BLAS — the same
    divisions on the same elements)."""
    total = hist.sum()
    if total == 0:
        return 127.0
    omega = np.cumsum(hist) / total
    mu = np.cumsum(hist * _BIN_IDX) / total
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    num = mu_t * omega - mu
    sigma_b = np.zeros(256, dtype=np.float64)
    np.divide(num * num, denom, out=sigma_b, where=denom > 0)
    return float(np.argmax(sigma_b))


def otsu_threshold(gray: np.ndarray) -> float:
    """Otsu's global threshold over a uint8 image (F10)."""
    return _otsu_from_hist(
        np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    )


def binarize(gray: np.ndarray) -> np.ndarray:
    """Ink mask: True where at or below the Otsu threshold (class-0 side)."""
    return gray <= otsu_threshold(gray)


def orient_and_binarize(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Fused P2 + F10 hot path: ``(invert_if_dark(gray), binarize(...))``
    from ONE histogram pass. invert_if_dark's mean test and Otsu both
    reduce the same pixel distribution, so the mean comes from the
    histogram and inversion flips the histogram instead of re-scanning
    the image (bincount(255 - g) == bincount(g)[::-1] exactly).
    Tier: bitwise, no BLAS, vs the unfused pair —
    tests/test_kernels.py::test_orient_and_binarize_bit_identical_to_unfused
    over fixture pages of both polarities.

    BILEVEL fast path (round 6, binarize was 33% of the kernel profile):
    a page whose pixels take exactly two values {lo, hi} — every plain
    and every tinted-codec render, i.e. almost all real pages of this
    engine's blocky raster — needs no histogram at all. Proof of bit-
    equality with the Otsu path: with only bins lo < hi populated,
    sigma_b(t) is 0 for t < lo (omega = 0), one constant positive value
    for t in [lo, hi) and 0 for t >= hi (omega = 1), so np.argmax's
    first-max rule returns exactly lo, and the mask is gray <= lo. The
    mean test uses (lo*n_lo + hi*n_hi)/n — the same exact f64 value the
    histogram dot product produces (all other terms are zero). Cost:
    min/max + two equality counts (~13 us) instead of bincount + Otsu
    (~70 us); non-bilevel pages fall through to the histogram path
    unchanged. Equality on ALL paths is pinned by that same test."""
    if gray.size:
        lo = int(gray.min())
        hi = int(gray.max())
        if lo != hi:
            n_lo = int(np.count_nonzero(gray == lo))
            n_hi = int(np.count_nonzero(gray == hi))
            if n_lo + n_hi == gray.size:
                if (lo * n_lo + hi * n_hi) / gray.size < 127.0:
                    gray = (255 - gray).astype(np.uint8)
                    return gray, gray <= (255 - hi)
                return gray, gray <= lo
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return gray, np.zeros_like(gray, dtype=bool)
    if float(hist @ _BIN_IDX) / total < 127.0:
        gray = (255 - gray).astype(np.uint8)
        hist = hist[::-1]
    return gray, gray <= _otsu_from_hist(hist)


# the renderer's space contract (CHAR_GAP=1, SPACE_GAP=4 unit columns):
# a blank-column run this wide or wider at unit scale is a word gap
WORD_GAP_UNITS = 3


def _runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends_excl) of the True runs of a 1-D mask."""
    d = np.diff(np.concatenate([[0], mask.astype(np.int8), [0]]))
    return np.flatnonzero(d == 1), np.flatnonzero(d == -1)


def unit_grid(ink: np.ndarray, box) -> tuple[np.ndarray, int]:
    """(units, scale): a line box's ink subsampled to unit scale — one
    pixel per glyph-grid cell, scale = box height // GLYPH_H."""
    x, y, w, h = (int(v) for v in box[:4])
    scale = max(1, h // GLYPH_H)
    return ink[y : y + h, x : x + w][0::scale, 0::scale], scale


def line_bands(ink: np.ndarray) -> list[tuple[int, int]]:
    """Projection-profile line segmentation: maximal runs of rows with
    ink. Returns [(y0, y1_excl)]."""
    starts, ends = _runs(ink.any(axis=1))
    return [(int(s), int(e)) for s, e in zip(starts, ends)]


def detect_lines(gray: np.ndarray, ink: np.ndarray | None = None) -> np.ndarray:
    """Media-span line detector: invert-if-dark -> Otsu ->
    projection-profile bands -> per-band bbox, top-to-bottom order.

    Returns (n_lines, 5): x, y, w, h, confidence. Confidence is 1.0: a
    band holds ink by construction, and any ink pixel is itself a
    component, so the component existence check needs no CC pass. Pass
    a precomputed ``ink`` mask to skip re-binarization (hot-path callers
    share one Otsu pass).
    """
    if ink is None:
        gray = invert_if_dark(gray)
        ink = binarize(gray)
    out = []
    for y0, y1 in line_bands(ink):
        cols = np.flatnonzero(ink[y0:y1].any(axis=0))
        out.append(
            (float(cols[0]), float(y0), float(cols[-1] - cols[0] + 1), float(y1 - y0), 1.0)
        )
    if not out:
        return np.zeros((0, 5), dtype=np.float64)
    return np.asarray(out, dtype=np.float64)


def group_into_lines(stats: np.ndarray, tol_frac: float = 0.6) -> list[np.ndarray]:
    """W3: sort components by center-y; start a new line when cy jumps more
    than the ADAPTIVE threshold max(tol_frac * median component height,
    0.5 * mean height of the current line) — the second term is the
    reference's adaptive part (legacy:771-775) and is what keeps a line
    containing tall-glyph boxes (ascenders/descenders ~2x the median char)
    from splitting in two. Returns a list of per-line stats arrays sorted
    by x within line."""
    if len(stats) == 0:
        return []
    med_h = float(np.median(stats[:, 3]))
    cy = stats[:, 1] + stats[:, 3] / 2.0
    order = np.argsort(cy, kind="stable")
    lines: list[list[int]] = [[int(order[0])]]
    for idx in order[1:]:
        idx = int(idx)
        line = lines[-1]
        line_cy = float(np.mean([stats[i, 1] + stats[i, 3] / 2.0 for i in line]))
        line_h = float(np.mean([stats[i, 3] for i in line]))
        tol = max(tol_frac * med_h, 0.5 * line_h)
        if abs((stats[idx, 1] + stats[idx, 3] / 2.0) - line_cy) <= tol:
            line.append(idx)
        else:
            lines.append([idx])
    out = []
    for line in lines:
        arr = stats[np.array(line)]
        out.append(arr[np.argsort(arr[:, 0], kind="stable")])
    return out


def line_boxes_from_groups(
    lines: list[np.ndarray],
    img_w: int,
    img_h: int,
    padding: float = 2.0,
) -> np.ndarray:
    """A4 + U3: per-line padded bbox hulls, then the reference's
    vertical-overlap merge (legacy:796-832 `_create_line_boxes` +
    `_merge_overlapping_boxes`). The merge is what re-joins an orphan
    sub-glyph fragment line (a descender or diacritic the grouping split
    off) with the line whose vertical extent it sits inside — without it,
    fragment lines over-count n_lines. Returns (n, 5) x y w h conf sorted
    by y."""
    from .components import merge_overlapping

    hulls = []
    for line in lines:
        if not len(line):
            continue
        hull = bbox_hull(line)
        x = max(0.0, hull[0] - padding)
        y = max(0.0, hull[1] - padding)
        w = min(float(img_w) - x, hull[2] + 2 * padding)
        h = min(float(img_h) - y, hull[3] + 2 * padding)
        hulls.append(np.array([x, y, w, h, hull[4]]))
    if not hulls:
        return np.zeros((0, 5))
    merged = merge_overlapping(np.stack(hulls))
    return merged[np.argsort(merged[:, 1], kind="stable")]


def _row_major(boxes: np.ndarray, tol_frac: float, row_key: np.ndarray) -> np.ndarray:
    """The running-mean row loop both reading orders share: group boxes
    into visual lines while |cy - running mean(line cy)| < tol_frac *
    median_h, sort each line by ``row_key``, flatten top-to-bottom.
    Returns row indices into ``boxes`` in reading order."""
    if len(boxes) == 0:
        return np.zeros(0, dtype=np.int64)
    med_h = float(np.median(boxes[:, 3]))
    cy = boxes[:, 1] + boxes[:, 3] / 2.0
    order = np.argsort(cy, kind="stable")
    lines: list[list[int]] = [[int(order[0])]]
    sums: list[float] = [float(cy[order[0]])]
    for idx in order[1:]:
        idx = int(idx)
        mean_cy = sums[-1] / len(lines[-1])
        if abs(cy[idx] - mean_cy) < tol_frac * med_h:
            lines[-1].append(idx)
            sums[-1] += float(cy[idx])
        else:
            lines.append([idx])
            sums.append(float(cy[idx]))
    result: list[int] = []
    for line in lines:
        arr = np.array(line)
        result.extend(arr[np.argsort(row_key[arr], kind="stable")].tolist())
    return np.array(result, dtype=np.int64)


def reading_order(boxes: np.ndarray, tol_frac: float = 0.7) -> np.ndarray:
    """W1: facade reading-order sort — rows at tol_frac * median_h, each
    sorted by center-x (detector/__init__.py:245-291)."""
    return _row_major(boxes, tol_frac, boxes[:, 0] + boxes[:, 2] / 2.0)


def reading_order_db(boxes: np.ndarray, tol_frac: float = 0.8) -> np.ndarray:
    """W2: DB-detector reading-order variant (db/model.py:265-333) — same
    rows as W1 at tolerance 0.8*median_h, each sorted by LEFT EDGE x, not
    center. The two variants disagree on purpose (SURVEY §2.5); keep
    both."""
    return _row_major(boxes, tol_frac, boxes[:, 0])


def bbox_hull(boxes: np.ndarray) -> np.ndarray:
    """A4/A5/A6 shape: min/max hull over member boxes + mean confidence
    (legacy:796-832, 906-927, 983-1000). boxes: (n, 5) x y w h conf."""
    x0 = float(boxes[:, 0].min())
    y0 = float(boxes[:, 1].min())
    x1 = float((boxes[:, 0] + boxes[:, 2]).max())
    y1 = float((boxes[:, 1] + boxes[:, 3]).max())
    conf = float(boxes[:, 4].mean()) if boxes.shape[1] > 4 else 1.0
    return np.array([x0, y0, x1 - x0, y1 - y0, conf])


def group_blocks(line_boxes: np.ndarray) -> list[np.ndarray]:
    """W6: group consecutive (y-sorted) line boxes into blocks — same block
    while vertical gap <= max(2*median_gap, median_line_h) AND horizontal
    overlap > 0.3 of the narrower line (legacy:929-981). Returns per-block
    index arrays into ``line_boxes``."""
    n = len(line_boxes)
    if n == 0:
        return []
    order = np.argsort(line_boxes[:, 1], kind="stable")
    tops = line_boxes[order, 1]
    bottoms = tops + line_boxes[order, 3]
    gaps = tops[1:] - bottoms[:-1]
    med_gap = float(np.median(gaps)) if len(gaps) else 0.0
    med_h = float(np.median(line_boxes[:, 3]))
    tol = max(2.0 * med_gap, med_h)
    lefts = line_boxes[order, 0]
    rights = lefts + line_boxes[order, 2]
    blocks: list[list[int]] = [[int(order[0])]]
    for i in range(1, n):
        overlap = min(rights[i], rights[i - 1]) - max(lefts[i], lefts[i - 1])
        narrower = min(rights[i] - lefts[i], rights[i - 1] - lefts[i - 1])
        same = gaps[i - 1] <= tol and narrower > 0 and overlap > 0.3 * narrower
        if same:
            blocks[-1].append(int(order[i]))
        else:
            blocks.append([int(order[i])])
    return [np.array(b, dtype=np.int64) for b in blocks]


def resize_keep_ratio_pad(
    gray: np.ndarray, target_h: int = 48, target_w: int = 640, pad_val: int = 128
) -> np.ndarray:
    """F17: the recognizer input contract (model.py:311-331) — scale height
    to target_h keeping aspect (nearest-neighbor; the sandbox has no cv2),
    left-align, right-pad with gray(pad_val), center-crop if wider."""
    h, w = gray.shape
    new_w = max(1, round(w * target_h / h))
    yi = (np.arange(target_h) * h) // target_h
    xi = (np.arange(new_w) * w) // new_w
    scaled = gray[yi][:, xi]
    out = np.full((target_h, target_w), pad_val, dtype=np.uint8)
    if new_w <= target_w:
        out[:, :new_w] = scaled
    else:
        off = (new_w - target_w) // 2
        out[:, :] = scaled[:, off : off + target_w]
    return out


def merge_boxes_into_rows(boxes: np.ndarray, tol: float = 0.7) -> np.ndarray:
    """Cluster detector boxes into text rows (W3's y-center rule applied
    at BOX level): running-mean y-center clustering with adaptive
    tolerance ``tol * median(height)``, one hull box per row, top-down.

    The in-sandbox-calibrated DB/CRAFT detectors emit word/region-grade
    boxes (a production-trained DBNet/CRAFT emits line-grade regions —
    the quality-vs-mechanism gap recorded in VERDICT "What's missing");
    this normalizes them to the line grade the recognition contract
    expects, reusing the same clustering law as the legacy detector
    (reference legacy/detector.py:750-792)."""
    if len(boxes) == 0:
        return np.zeros((0, 5))
    b = np.asarray(boxes, dtype=float)
    med_h = float(np.median(b[:, 3]))
    cy = b[:, 1] + b[:, 3] / 2
    order = np.argsort(cy, kind="stable")
    rows: list[list[int]] = [[int(order[0])]]
    for i in order[1:]:
        cur = rows[-1]
        if abs(cy[i] - float(np.mean(cy[cur]))) <= tol * med_h:
            cur.append(int(i))
        else:
            rows.append([int(i)])
    out = []
    for idx in rows:
        g = b[idx]
        x0, y0 = g[:, 0].min(), g[:, 1].min()
        x1 = (g[:, 0] + g[:, 2]).max()
        y1 = (g[:, 1] + g[:, 3]).max()
        score = float(g[:, 4].mean()) if b.shape[1] > 4 else 1.0
        out.append((x0, y0, x1 - x0, y1 - y0, score))
    return np.array(sorted(out, key=lambda r: (r[1], r[0])))


def split_box_at_blank_rows(ink: np.ndarray, box) -> list[np.ndarray]:
    """Split a (possibly multi-line) detector box at blank ink rows and
    ink-tighten each band — the projection-profile band rule detect_lines
    already applies page-wide, scoped to one box. DB's unclipped regions
    on tight two-line pages can span both lines; recognition needs one
    band per text line. Returns [x y w h] int arrays, top-down; a box
    without ink yields none."""
    x, y, w, h = (int(v) for v in box[:4])
    x0, y0 = max(x, 0), max(y, 0)
    sub = ink[y0 : y0 + h, x0 : x0 + w]
    out = []
    for s, e in zip(*_runs(sub.any(axis=1))):
        xs = np.flatnonzero(sub[s:e].any(axis=0))
        out.append(
            np.array([x0 + xs[0], y0 + s, xs[-1] - xs[0] + 1, e - s], dtype=int)
        )
    return out


def pad_training_margins(region: np.ndarray) -> np.ndarray:
    """Restore the renderer's PAD_Y/PAD_X background margins around a
    detected line crop before resize_keep_ratio_pad — the trained
    artifact's preprocessing contract. Training crops are full rendered
    pages, so their margins carry the PAGE's background luma (255 plain,
    239 on tinted-codec pages); a hardcoded 255 pad diverged from that
    contract on tinted inputs. The crop's own MAXIMUM recovers the
    actual background deterministically: after invert_if_dark the page
    is dark-ink-on-light, so the lightest value in any crop that
    contains at least one background pixel IS the background luma (255
    plain, 239 tinted codec). A border-pixel median does NOT work here —
    detect boxes bound the blocky fixture glyphs tightly, so tight-crop
    borders are majority ink and the median reads ink, not background."""
    from ..imaging.glyphs import PAD_X, PAD_Y

    bg = int(region.max()) if region.size else 255
    if bg < 160:
        # all-ink crop (e.g. a solid block glyph): the max IS ink luma,
        # not background — fall back to the plain-page 255 the constant
        # pad used. 160 cleanly separates ink (<128 after invert_if_dark)
        # from both background lumas (255 plain, 239 tinted codec).
        bg = 255
    return np.pad(region, ((PAD_Y, PAD_Y), (PAD_X, PAD_X)), constant_values=bg)


def split_words(ink: np.ndarray, box) -> list[tuple[int, int, int, int]]:
    """Word boxes ``(x, y, w, h)`` of one detected line: split the
    line's unit grid at blank-column runs >= WORD_GAP_UNITS — the exact
    word rule for this engine's glyph raster. Each word keeps the line's
    y and height."""
    x, y, _, h = (int(v) for v in box[:4])
    units, scale = unit_grid(ink, box)
    spans: list[list[int]] = []
    for s, e in zip(*_runs(units.any(axis=0))):
        if spans and s - spans[-1][1] < WORD_GAP_UNITS:
            spans[-1][1] = int(e)
        else:
            spans.append([int(s), int(e)])
    return [(x + s * scale, y, (e - s) * scale, h) for s, e in spans]
