"""Text-line detection kernels (pure numpy, run per-image inside UDFs).

Semantics re-expressed from the reference's legacy detector
(/root/reference/kiri_ocr/detector/legacy/detector.py) and facade
(/root/reference/kiri_ocr/detector/__init__.py):

- ``invert_if_dark``   P2: mean<127 -> invert (core.py:523-525,678-681)
- ``otsu_threshold``   F10: Otsu global binarization (legacy:403-440)
- ``binarize_candidates`` + ``score_binarization`` A1/A2: multi-candidate
  binarization with CC-statistics scoring and top-k selection
  (legacy:263-281,442-569)
- ``detect_lines``     F13 + projection profile: connected components +
  row-projection line bands — the north_star's
  "connected-component + projection-profile line segmentation"
- ``group_into_lines`` W3: sort by cy, adaptive tolerance 0.6*median_h
  (legacy:750-792)
- ``reading_order``    W1: group by cy (running mean, 0.7*median_h), sort
  within line by center x (detector/__init__.py:245-291)
- ``segment_words``    W5: gap stats within a line (legacy:848-904)
- ``split_words``      the glyph-raster word rule: unit-scale blank-column
  runs >= 3 (renderer SPACE_GAP contract)
"""

from __future__ import annotations

import numpy as np

from .components import component_stats, connected_components


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


def clahe(gray: np.ndarray, clip_limit: float = 2.0, tiles: int = 8) -> np.ndarray:
    """F9: contrast-limited adaptive histogram equalization, numpy
    re-expression of cv2.createCLAHE(clipLimit=2.0, tileGridSize=(8,8))
    (legacy:400-401): per-tile clipped histogram -> CDF mapping, bilinear
    interpolation between the four surrounding tile mappings."""
    h, w = gray.shape
    ty = max(1, min(tiles, h))
    tx = max(1, min(tiles, w))
    # tile edges (cv2 pads; simple equal split is fine for scoring use)
    y_edges = np.linspace(0, h, ty + 1).astype(int)
    x_edges = np.linspace(0, w, tx + 1).astype(int)
    maps = np.zeros((ty, tx, 256), dtype=np.float64)
    for i in range(ty):
        for j in range(tx):
            tile = gray[y_edges[i] : y_edges[i + 1], x_edges[j] : x_edges[j + 1]]
            n = tile.size
            if n == 0:
                maps[i, j] = np.arange(256)
                continue
            hist = np.bincount(tile.ravel(), minlength=256).astype(np.float64)
            clip = max(clip_limit * n / 256.0, 1.0)
            excess = np.maximum(hist - clip, 0.0).sum()
            hist = np.minimum(hist, clip) + excess / 256.0
            cdf = hist.cumsum()
            maps[i, j] = (cdf - cdf[0]) / max(cdf[-1] - cdf[0], 1.0) * 255.0
    # bilinear interpolation of the per-tile mappings at every pixel
    cy = (y_edges[:-1] + y_edges[1:]) / 2.0
    cx = (x_edges[:-1] + x_edges[1:]) / 2.0
    yi = np.clip(np.searchsorted(cy, np.arange(h)) - 1, 0, ty - 2) if ty > 1 else np.zeros(h, int)
    xi = np.clip(np.searchsorted(cx, np.arange(w)) - 1, 0, tx - 2) if tx > 1 else np.zeros(w, int)
    if ty > 1:
        fy = np.clip((np.arange(h) - cy[yi]) / np.maximum(cy[yi + 1] - cy[yi], 1e-9), 0, 1)
    else:
        fy = np.zeros(h)
    if tx > 1:
        fx = np.clip((np.arange(w) - cx[xi]) / np.maximum(cx[xi + 1] - cx[xi], 1e-9), 0, 1)
    else:
        fx = np.zeros(w)
    g = gray.astype(int)
    yi2 = np.minimum(yi + 1, ty - 1)
    xi2 = np.minimum(xi + 1, tx - 1)
    v00 = maps[yi[:, None], xi[None, :], g]
    v01 = maps[yi[:, None], xi2[None, :], g]
    v10 = maps[yi2[:, None], xi[None, :], g]
    v11 = maps[yi2[:, None], xi2[None, :], g]
    fy2 = fy[:, None]
    fx2 = fx[None, :]
    out = (
        v00 * (1 - fy2) * (1 - fx2)
        + v01 * (1 - fy2) * fx2
        + v10 * fy2 * (1 - fx2)
        + v11 * fy2 * fx2
    )
    return np.clip(out, 0, 255).astype(np.uint8)


def _box_mean(gray: np.ndarray, block: int) -> np.ndarray:
    """Local mean over a block x block window via integral image."""
    k = block // 2
    h, w = gray.shape
    ii = np.pad(gray.astype(np.float64), ((1, 0), (1, 0))).cumsum(0).cumsum(1)
    ys = np.arange(h)
    xs = np.arange(w)
    y0 = np.clip(ys - k, 0, h)[:, None]
    y1 = np.clip(ys + k + 1, 0, h)[:, None]
    x0 = np.clip(xs - k, 0, w)[None, :]
    x1 = np.clip(xs + k + 1, 0, w)[None, :]
    area = (y1 - y0) * (x1 - x0)
    return (ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]) / area


def _gauss_mean(gray: np.ndarray, block: int) -> np.ndarray:
    """Separable gaussian-weighted local mean; sigma per cv2's
    adaptiveThreshold rule sigma = 0.3*((block-1)*0.5 - 1) + 0.8."""
    sigma = 0.3 * ((block - 1) * 0.5 - 1) + 0.8
    r = block // 2
    t = np.arange(-r, r + 1, dtype=np.float64)
    kern = np.exp(-(t * t) / (2 * sigma * sigma))
    kern /= kern.sum()
    g = gray.astype(np.float64)
    pad_y = np.pad(g, ((r, r), (0, 0)), mode="edge")
    tmp = np.einsum("k,kij->ij", kern,
                    np.stack([pad_y[i : i + g.shape[0]] for i in range(block)]))
    pad_x = np.pad(tmp, ((0, 0), (r, r)), mode="edge")
    return np.einsum("k,ikj->ij", kern,
                     np.stack([pad_x[:, i : i + g.shape[1]] for i in range(block)], axis=1))


def _morph_gradient(gray: np.ndarray) -> np.ndarray:
    """3x3-cross morphological gradient (dilate - erode), the numpy
    analogue of cv2.morphologyEx(MORPH_GRADIENT, 3x3 ellipse)."""
    g = gray.astype(np.int16)
    p = np.pad(g, 1, mode="edge")
    stack = np.stack(
        [p[1:-1, 1:-1], p[:-2, 1:-1], p[2:, 1:-1], p[1:-1, :-2], p[1:-1, 2:]]
    )
    return (stack.max(axis=0) - stack.min(axis=0)).astype(np.uint8)


def _rgb_to_hsv_sv(img: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """S and V channels with cv2's 8-bit HSV conventions
    (V = max(R,G,B); S = 255*(V-min)/V, 0 where V = 0)."""
    f = img.astype(np.float64)
    v = f.max(axis=2)
    mn = f.min(axis=2)
    s = np.where(v > 0, 255.0 * (v - mn) / np.maximum(v, 1e-9), 0.0)
    return (
        np.clip(np.round(s), 0, 255).astype(np.uint8),
        np.clip(np.round(v), 0, 255).astype(np.uint8),
    )


def _rgb_to_lab(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """CIE Lab (D65) with cv2's 8-bit scaling: L*255/100, a+128, b+128 —
    the numpy analogue of cv2.cvtColor(BGR2LAB) on uint8 input."""
    rgb = img.astype(np.float64) / 255.0
    # sRGB -> linear
    lin = np.where(rgb <= 0.04045, rgb / 12.92, ((rgb + 0.055) / 1.055) ** 2.4)
    r, g, b = lin[:, :, 0], lin[:, :, 1], lin[:, :, 2]
    x = 0.412453 * r + 0.357580 * g + 0.180423 * b
    y = 0.212671 * r + 0.715160 * g + 0.072169 * b
    z = 0.019334 * r + 0.119193 * g + 0.950227 * b
    # normalize by D65 white
    x, z = x / 0.950456, z / 1.088754
    def f(t):
        return np.where(t > 0.008856, np.cbrt(t), 7.787 * t + 16.0 / 116.0)
    fx, fy, fz = f(x), f(y), f(z)
    L = np.where(y > 0.008856, 116.0 * np.cbrt(y) - 16.0, 903.3 * y)
    a = 500.0 * (fx - fy)
    bb = 200.0 * (fy - fz)
    to8 = lambda v: np.clip(np.round(v), 0, 255).astype(np.uint8)  # noqa: E731
    return to8(L * 255.0 / 100.0), to8(a + 128.0), to8(bb + 128.0)


def color_channel_candidates(img: np.ndarray) -> list[np.ndarray]:
    """F11 (legacy:444-488 use_color_channels section): the 15 channel
    candidates the reference adds for 3-channel pages — per-RGB-channel
    CLAHE+Otsu pairs, HSV V CLAHE+Otsu pair, HSV S fixed threshold, LAB L
    CLAHE+Otsu pair, LAB a/b high/low extremes. Masks follow the bank's
    boolean-ink convention; both polarities ship where the reference
    ships both, A1/A2 scoring picks the text-like ones."""
    cands: list[np.ndarray] = []
    for i in range(3):  # legacy:446-453 per-channel otsu +- pairs
        ch = clahe(img[:, :, i])
        m = ch <= otsu_threshold(ch)
        cands.append(m)
        cands.append(~m)
    s, v = _rgb_to_hsv_sv(img)
    ve = clahe(v)  # legacy:458-462 value channel
    m = ve <= otsu_threshold(ve)
    cands.append(m)
    cands.append(~m)
    cands.append(s > 50)  # legacy:465-467 saturation (colored ink)
    L, a, b = _rgb_to_lab(img)
    Le = clahe(L)  # legacy:470-475 lightness
    m = Le <= otsu_threshold(Le)
    cands.append(m)
    cands.append(~m)
    for ch in (a, b):  # legacy:477-484 a/b extremes (colored text)
        cands.append(ch > 160)
        cands.append(ch <= 96)
    return cands


def binarize_candidates(img: np.ndarray) -> list[np.ndarray]:
    """F9/F10/F11/F12: the full candidate bank of legacy:395-494, numpy
    re-expressions of the cv2 calls. All adaptive candidates run on the
    CLAHE-enhanced image like the reference; both polarities ship and
    A1/A2 scoring picks the text-like ones. A 3-channel input adds the 15
    RGB/HSV/LAB channel candidates (F11, legacy:444-488) on top of the
    14-candidate grayscale bank run over the luma projection — 29 total,
    >= the reference's 26."""
    color = img.ndim == 3
    if color:
        from ..imaging.png import rgb_to_gray

        gray = rgb_to_gray(img)
    else:
        gray = img
    enhanced = clahe(gray)
    cands = []
    # otsu pair on the enhanced image (legacy:406-409)
    otsu_mask = enhanced <= otsu_threshold(enhanced)
    cands.append(otsu_mask)
    cands.append(~otsu_mask)
    # adaptive gaussian 21,10 / mean 15,8 / sauvola-like gaussian 51,20 /
    # niblack-like mean 11,5 (legacy:411-441); THRESH_BINARY keeps
    # pixel > localmean - C as foreground, inverse is the other polarity
    for mean_fn, block, c in (
        (_gauss_mean, 21, 10),
        (_box_mean, 15, 8),
        (_gauss_mean, 51, 20),
        (_box_mean, 11, 5),
    ):
        local = mean_fn(enhanced, block)
        mask = enhanced.astype(np.float64) > (local - c)
        cands.append(mask)
        cands.append(~mask)
    # morphological-gradient + otsu (legacy:490-494): edges as ink
    grad = _morph_gradient(enhanced)
    cands.append(grad > otsu_threshold(grad))
    # raw-gray extras kept from the round-1 bank (otsu on the unenhanced
    # image, fixed mid, global mean-offset)
    cands.append(binarize(gray))
    cands.append(gray < 127)
    cands.append(gray < max(1.0, gray.mean() - 10.0))
    if color:
        cands.extend(color_channel_candidates(img))
    return cands


def score_binarization(mask: np.ndarray) -> float:
    """CC-statistics score of a binarization candidate (A1 analogue of
    legacy:496-569): rewards many medium, consistent-height components."""
    stats = component_stats(connected_components(mask))
    if len(stats) == 0:
        return 0.0
    h = stats[:, 3].astype(np.float64)
    med = float(np.median(h))
    if med <= 0:
        return 0.0
    valid = int(((h > 0.3 * med) & (h < 3 * med)).sum())
    std = float(h.std())
    consistency = 1.0 / (1.0 + std / med)
    coverage = float(mask.mean())
    coverage_score = 1.0 - abs(coverage - 0.08) / 0.92  # text pages ~5-10% ink
    return valid * consistency * max(0.0, coverage_score)


def select_top_binarizations(gray: np.ndarray, k: int = 3) -> list[np.ndarray]:
    """A2: score all candidates, keep top-k by score desc (stable)."""
    cands = binarize_candidates(gray)
    scores = np.array([score_binarization(c) for c in cands])
    order = np.argsort(-scores, kind="stable")[:k]
    return [cands[i] for i in order]


def line_bands(ink: np.ndarray, min_gap: int = 1) -> list[tuple[int, int]]:
    """Projection-profile line segmentation: contiguous bands of rows with
    ink, separated by >= min_gap blank rows. Returns [(y0, y1_excl)]."""
    proj = ink.any(axis=1).astype(np.int8)
    padded = np.concatenate([[0], proj, [0]])
    diff = np.diff(padded)
    starts = np.flatnonzero(diff == 1)
    ends = np.flatnonzero(diff == -1)
    bands = []
    for s, e in zip(starts, ends):
        if bands and s - bands[-1][1] < min_gap:
            bands[-1] = (bands[-1][0], int(e))
        else:
            bands.append((int(s), int(e)))
    return bands


def detect_lines(gray: np.ndarray, ink: np.ndarray | None = None) -> np.ndarray:
    """Media-span line detector: invert-if-dark -> Otsu ->
    projection-profile bands -> per-band bbox, top-to-bottom order.

    Returns (n_lines, 5): x, y, w, h, confidence. Confidence is 1.0 when
    the band contains ink (always, by band construction) — the component
    existence check this encodes needs no CC pass, because any ink pixel
    is itself a component. Pass a precomputed ``ink`` mask to skip
    re-binarization (hot-path callers share one Otsu pass).
    """
    if ink is None:
        gray = invert_if_dark(gray)
        ink = binarize(gray)
    bands = line_bands(ink)
    out = []
    for y0, y1 in bands:
        strip = ink[y0:y1]
        cols = np.flatnonzero(strip.any(axis=0))
        if cols.size == 0:
            continue
        # components exist in a band iff the band has ink (any ink pixel
        # is itself a component) — the per-band CC pass this used to run
        # was 56% of the whole OCR kernel's profile for a constant answer
        conf = 1.0 if cols.size > 0 else 0.0
        out.append(
            (float(cols[0]), float(y0), float(cols[-1] - cols[0] + 1), float(y1 - y0), conf)
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


def reading_order(boxes: np.ndarray, tol_frac: float = 0.7) -> np.ndarray:
    """W1: facade reading-order sort — group boxes into visual lines while
    |cy - running mean(line cy)| < tol_frac * median_h, sort each line by
    center-x, flatten top-to-bottom (detector/__init__.py:245-291).
    Returns row indices into ``boxes`` in reading order."""
    if len(boxes) == 0:
        return np.zeros(0, dtype=np.int64)
    med_h = float(np.median(boxes[:, 3]))
    cy = boxes[:, 1] + boxes[:, 3] / 2.0
    cx = boxes[:, 0] + boxes[:, 2] / 2.0
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
        result.extend(arr[np.argsort(cx[arr], kind="stable")].tolist())
    return np.array(result, dtype=np.int64)


def reading_order_db(boxes: np.ndarray, tol_frac: float = 0.8) -> np.ndarray:
    """W2: DB-detector reading-order variant (db/model.py:265-333) — same
    running-mean line grouping as W1 but tolerance 0.8*median_h and
    within-line sort by LEFT EDGE x, not center. The two variants disagree
    on purpose (SURVEY §2.5); keep both."""
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
        result.extend(arr[np.argsort(boxes[arr, 0], kind="stable")].tolist())
    return np.array(result, dtype=np.int64)


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
    band per text line. Returns [x y w h] int arrays, top-down; empty
    bands are dropped."""
    x, y, w, h = (int(v) for v in box[:4])
    x0, y0 = max(x, 0), max(y, 0)
    sub = ink[y0 : y0 + h, x0 : x0 + w]
    if sub.size == 0:
        return []
    rowink = sub.any(axis=1).astype(np.int8)
    d = np.diff(np.concatenate([[0], rowink, [0]]))
    starts, ends = np.flatnonzero(d == 1), np.flatnonzero(d == -1)
    out = []
    for s, e in zip(starts, ends):
        band = sub[s:e]
        xs = np.flatnonzero(band.any(axis=0))
        if len(xs) == 0:
            continue
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
    """Word boxes ``(x, y, w, h)`` of one detected line: subsample the
    line's ink to unit scale (one pixel per glyph-grid cell) and split at
    blank-column runs >= 3 unit columns — the renderer's space contract
    (CHAR_GAP=1, SPACE_GAP=4), the exact word rule for this engine's
    glyph raster. Each word keeps the line's y and height."""
    from ..imaging.glyphs import GLYPH_H

    x, y, w, h = (int(v) for v in box[:4])
    scale = max(1, h // GLYPH_H)
    cols = ink[y : y + h, x : x + w][0::scale, 0::scale].any(axis=0)
    d = np.diff(np.concatenate([[0], cols.astype(np.int8), [0]]))
    spans: list[list[int]] = []
    for s, e in zip(np.flatnonzero(d == 1), np.flatnonzero(d == -1)):
        if spans and s - spans[-1][1] < 3:
            spans[-1][1] = int(e)
        else:
            spans.append([int(s), int(e)])
    return [(x + s * scale, y, (e - s) * scale, h) for s, e in spans]


def segment_words(line_stats: np.ndarray) -> list[np.ndarray]:
    """W5: split a line's x-sorted component stats into words at large gaps.
    Threshold = clamp(median(gaps)+std(gaps), 0.3*med_w, 2*med_w)
    (legacy:848-904)."""
    if len(line_stats) <= 1:
        return [line_stats] if len(line_stats) else []
    xs = line_stats[:, 0].astype(np.float64)
    rights = xs + line_stats[:, 2]
    gaps = xs[1:] - rights[:-1]
    med_w = float(np.median(line_stats[:, 2]))
    thr = float(np.clip(np.median(gaps) + gaps.std(), 0.3 * med_w, 2.0 * med_w))
    words: list[list[int]] = [[0]]
    for i, g in enumerate(gaps, start=1):
        if g > thr:
            words.append([i])
        else:
            words[-1].append(i)
    return [line_stats[np.array(w)] for w in words]
