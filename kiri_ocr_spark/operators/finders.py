"""Multi-method candidate finders (legacy detector parity, pure numpy).

The reference's legacy detector unions three candidate sources before
dedup + line grouping (/root/reference/kiri_ocr/detector/legacy/detector.py:181-202):

- connected components over the Otsu binarization (F13)
- MSER regions (F14, :283-332) with a solidity predicate (P7, :313-320)
- gradient/edge components (F15, :334-387) with a stroke-consistency
  predicate (P8, :361-382)

cv2 is unavailable in-sandbox, so: MSER is re-expressed as a threshold-
sweep stability finder (the actual definition of MSER, delta-stepped);
Canny+dilate is re-expressed as Sobel magnitude -> threshold -> 3x1
binary dilation; solidity uses the filled-bbox ratio as the hull proxy
(documented deviation: convex-hull solidity needs a hull routine; bbox
solidity bounds it from below). Everything runs per-image inside the
mapInPandas kernels — at table scope these are embarrassingly parallel.

``estimate_text_metrics`` (A3) is the one padding rule the legacy path
runs; the reference's neighbor-clamped smart padding (J5/F25) and its
box-containment helpers (J2/J3) are not implemented here — containment
is ``TextDetector.detect_all``'s center-in-box test.
"""

from __future__ import annotations

import numpy as np

from .components import component_stats, connected_components, nms

MSER_DELTA = 5
MSER_MIN_AREA = 30
MSER_MAX_AREA = 14400
SOLIDITY_LO, SOLIDITY_HI = 0.2, 0.95
GRAD_THRESHOLD = 20.0
STROKE_CONSISTENCY = 0.2
ASPECT_LO, ASPECT_HI = 0.05, 15.0


def _stats_with_conf(mask: np.ndarray, conf: float) -> np.ndarray:
    """CC stats (x y w h area) -> candidate rows (x y w h conf)."""
    stats = component_stats(connected_components(mask))
    if len(stats) == 0:
        return np.zeros((0, 5))
    out = stats[:, :4].astype(np.float64)
    return np.column_stack([out, np.full(len(out), conf)])


def _solidity_filter(mask: np.ndarray, stats: np.ndarray) -> np.ndarray:
    """P7 proxy: ink-area / bbox-area in (SOLIDITY_LO, SOLIDITY_HI)."""
    keep = []
    for x, y, w, h, _ in stats:
        x, y, w, h = int(x), int(y), int(w), int(h)
        area = float(mask[y : y + h, x : x + w].sum())
        solidity = area / max(w * h, 1)
        keep.append(SOLIDITY_LO < solidity < SOLIDITY_HI)
    return np.array(keep, dtype=bool)


def _first_match_pairs(
    stats: np.ndarray, prev: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(has_match, first_prev_index) per cur row for IoU>0.8 vs prev —
    the streak-independent part of the first-match scan, cacheable when
    (stats, prev) repeat across skipped MSER levels."""
    if len(stats) == 0 or len(prev) == 0:
        z = np.zeros(len(stats), dtype=np.int64)
        return np.zeros(len(stats), dtype=bool), z
    cx1, cy1 = stats[:, 0:1], stats[:, 1:2]
    cx2, cy2 = cx1 + stats[:, 2:3], cy1 + stats[:, 3:4]
    px1, py1 = prev[:, 0], prev[:, 1]
    px2, py2 = px1 + prev[:, 2], py1 + prev[:, 3]
    ix = np.maximum(0.0, np.minimum(cx2, px2) - np.maximum(cx1, px1))
    iy = np.maximum(0.0, np.minimum(cy2, py2) - np.maximum(cy1, py1))
    inter = ix * iy
    union = stats[:, 2:3] * stats[:, 3:4] + prev[:, 2] * prev[:, 3] - inter
    hit = np.where(union > 0, inter / np.maximum(union, 1e-300), 0.0) > 0.8
    return hit.any(axis=1), hit.argmax(axis=1)


def _first_match_streaks(stats: np.ndarray, prev: np.ndarray, streak: np.ndarray) -> np.ndarray:
    """Per cur row, the streak of the FIRST prev row (prev order) with
    IoU>0.8, else 0 — the vectorized form of the scalar first-match scan."""
    if len(stats) == 0 or len(prev) == 0:
        return np.zeros(len(stats), dtype=np.int64)
    has, first = _first_match_pairs(stats, prev)
    return np.where(has, streak[first], 0)


def mser_regions(gray: np.ndarray) -> np.ndarray:
    """F14: maximally-stable-extremal-region finder via a delta-stepped
    threshold sweep over BOTH polarities: a bbox that persists (IoU>0.8)
    across >=3 consecutive thresholds is stable. Returns (n,5) candidates.

    Two exact-result fast paths (the scalar sweep dominated detect_all on
    hierarchy pages): (a) a level whose threshold crosses no pixel value
    produces the SAME mask as the previous level, so its stats are the
    previous level's stats and every row self-matches (IoU 1) — skip the
    CC pass and just increment the streaks; (b) the first-match streak
    scan is one vectorized IoU matrix per level."""
    cands: list[np.ndarray] = []
    for polarity in (gray, 255 - gray):
        hist = np.bincount(polarity.reshape(-1), minlength=256)
        csum = np.cumsum(hist)  # csum[t] = #pixels <= t
        prev = np.zeros((0, 5))
        streak = np.zeros(0, dtype=np.int64)
        prev_t = None
        self_match = None  # cached (has, first) of the CURRENT prev array
        for t in range(30, 226, MSER_DELTA):
            if prev_t is not None and csum[t] == csum[prev_t]:
                # identical mask -> identical stats: skip the CC/solidity
                # recompute but keep the SAME first-match scan (a row's
                # first >0.8 match may be an earlier overlapping row, not
                # itself). Consecutive skipped levels see the IDENTICAL
                # (prev, prev) IoU matrix — compute it once per prev and
                # reuse (only `streak` changes between skipped levels)
                stats = prev
                if self_match is None:
                    self_match = _first_match_pairs(prev, prev)
                has, first = self_match
                cur_streak = (
                    np.where(has, streak[first], 0)
                    if len(prev)
                    else np.zeros(0, dtype=np.int64)
                ) + 1
            else:
                self_match = None
                mask = polarity <= t
                stats = _stats_with_conf(mask, 0.6)
                ok = (
                    (stats[:, 2] * stats[:, 3] >= MSER_MIN_AREA)
                    & (stats[:, 2] * stats[:, 3] <= MSER_MAX_AREA)
                )
                stats = stats[ok]
                if len(stats):
                    stats = stats[_solidity_filter(mask, stats)]
                cur_streak = _first_match_streaks(stats, prev, streak) + 1
            stable = cur_streak >= 3
            if stable.any():
                cands.extend(stats[stable])
            prev, streak, prev_t = stats, cur_streak, t
    if not cands:
        return np.zeros((0, 5))
    arr = np.array(cands)
    # a stable box re-appends at every surviving level, so the list is
    # mostly exact-duplicate rows; dropping later duplicates (keeping the
    # first) cannot change greedy NMS output — the first copy either
    # suppresses the rest (IoU 1) or all copies were already suppressed
    _, first_idx = np.unique(arr, axis=0, return_index=True)
    arr = arr[np.sort(first_idx)]
    return nms(arr, iou_threshold=0.5)


def _sobel_magnitude(gray: np.ndarray) -> np.ndarray:
    g = gray.astype(np.float64)
    gp = np.pad(g, 1, mode="edge")
    gx = (
        (gp[:-2, 2:] + 2 * gp[1:-1, 2:] + gp[2:, 2:])
        - (gp[:-2, :-2] + 2 * gp[1:-1, :-2] + gp[2:, :-2])
    )
    gy = (
        (gp[2:, :-2] + 2 * gp[2:, 1:-1] + gp[2:, 2:])
        - (gp[:-2, :-2] + 2 * gp[:-2, 1:-1] + gp[:-2, 2:])
    )
    return np.sqrt(gx * gx + gy * gy)


def _dilate_3x1(mask: np.ndarray, iterations: int = 2) -> np.ndarray:
    """3x1 horizontal rect kernel dilation (legacy:352-356) via shifts."""
    out = mask.copy()
    for _ in range(iterations):
        grown = out.copy()
        grown[:, 1:] |= out[:, :-1]
        grown[:, :-1] |= out[:, 1:]
        out = grown
    return out


def gradient_components(gray: np.ndarray) -> np.ndarray:
    """F15+P8: Sobel magnitude -> edge mask -> horizontal dilation -> CC;
    keep components with stroke consistency 1 - std/mean of member
    gradient magnitudes above threshold and sane aspect."""
    mag = _sobel_magnitude(gray)
    edges = mag > 4.0 * GRAD_THRESHOLD  # Canny(50,150) strength analogue
    grown = _dilate_3x1(edges)
    labels = connected_components(grown)
    stats = component_stats(labels)
    if len(stats) == 0:
        return np.zeros((0, 5))
    out = []
    for i, (x, y, w, h, _a) in enumerate(stats, start=1):
        aspect = w / max(h, 1)
        if not (ASPECT_LO < aspect < ASPECT_HI):
            continue
        member = labels[int(y) : int(y + h), int(x) : int(x + w)] == i
        mags = mag[int(y) : int(y + h), int(x) : int(x + w)][member]
        if mags.size == 0 or mags.mean() <= 0:
            continue
        consistency = 1.0 - float(mags.std() / mags.mean())
        if consistency > STROKE_CONSISTENCY:
            out.append((float(x), float(y), float(w), float(h), 0.5))
    return np.array(out) if out else np.zeros((0, 5))


def multi_method_candidates(gray: np.ndarray, ink: np.ndarray) -> np.ndarray:
    """U1+U2: CC ∪ MSER ∪ gradient candidates, deduped by IoU>0.5 NMS
    keeping max confidence (legacy:181-202,679-706)."""
    cc = _stats_with_conf(ink, 0.8)
    parts = [p for p in (cc, mser_regions(gray), gradient_components(gray)) if len(p)]
    if not parts:
        return np.zeros((0, 5))
    return nms(np.concatenate(parts), iou_threshold=0.5)


def estimate_text_metrics(stats: np.ndarray) -> tuple[float, float, float]:
    """A3: median char height/width -> auto padding max(2, 0.15*median_h)
    (legacy:731-746)."""
    if len(stats) == 0:
        return 0.0, 0.0, 2.0
    med_h = float(np.median(stats[:, 3]))
    med_w = float(np.median(stats[:, 2]))
    return med_h, med_w, max(2.0, 0.15 * med_h)

