"""Heatmap-detector postprocessing (DB + CRAFT), pure numpy.

The reference ships two neural detectors whose INFERENCE is cut in this
sandbox (no onnxruntime / torch, no network for weights):

- DB  (M5): ONNX session, /root/reference/kiri_ocr/detector/db/model.py
- CRAFT (M6): torch VGG-BiLSTM, /root/reference/kiri_ocr/detector/craft/model.py

Everything AFTER the forward pass is classical geometry, and that part is
rebuilt here faithfully so a user who later plugs a real probability map in
(ONNX on a cluster with the runtime available) gets the reference's boxes:

- F19  ``resize_to_multiple_of_32``  (db/model.py:128-147 `_resize_image`)
- F20  ``min_area_rect``/``mini_box`` (db/model.py:161-177 `_get_mini_boxes`
       — cv2.minAreaRect re-expressed with convex hull + rotating calipers)
- P9   ``box_score_fast``            (db/model.py:179-197)
- F21  ``unclip_rect``               (db/model.py:199-212 `_unclip`:
       distance = area * ratio / perimeter; the reference round-joins with
       pyclipper then immediately takes minAreaRect of the result — for a
       rectangle input that composition is EXACTLY the rect grown by the
       distance on every side, so the rect-grow here is not an
       approximation)
- P9+  ``db_boxes_from_bitmap``      (db/model.py:214-262)
- P10  ``craft_boxes``               (craft/utils.py:16-103 getDetBoxes_core:
       low_text/link threshold union, 4-conn CC, size>=10 filter, max-text
       score filter, link-area removal, sqrt-scaled square dilation,
       minAreaRect, diamond-alignment fallback)

MODEL SEAM (M5/M6, explicitly stubbed): ``fake_prob_map`` /
``fake_heatmaps`` derive deterministic pseudo-probability maps from an ink
mask via box blur, so the postprocess plumbing is testable end-to-end
in-sandbox. They are NOT a neural detector and never pretend to be.
"""

from __future__ import annotations

import numpy as np

from .components import component_stats, connected_components

# ---------------------------------------------------------------------------
# geometry: convex hull + rotating calipers (cv2.minAreaRect analogue, F20)
# ---------------------------------------------------------------------------


def _row_extremes(pts: np.ndarray) -> np.ndarray:
    """Exact hull-preserving reduction: per distinct y keep only the
    min-x and max-x points — every other point on that scanline is a
    convex combination of the two, so the hull is unchanged. Component
    PIXEL sets (the min_area_rect callers' input) shrink from O(area)
    to O(2 * rows), which turns the pure-Python monotone chain from the
    dominant cost of the craft/db page postprocess (~91% of
    process_document, 26k points/hull) into noise."""
    order = np.lexsort((pts[:, 0], pts[:, 1]))  # sort by y, then x
    p = pts[order]
    first = np.ones(len(p), dtype=bool)
    first[1:] = p[1:, 1] != p[:-1, 1]
    idx_first = np.flatnonzero(first)
    idx_last = np.r_[idx_first[1:] - 1, len(p) - 1]
    return np.concatenate([p[idx_first], p[idx_last]])


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain over (n, 2) points -> CCW hull vertices."""
    pts = points.astype(np.float64)
    if len(pts) > 16:
        pts = _row_extremes(pts)
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    # lexicographic sort (x, then y)
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    # the chain walks per-point: python floats do the same IEEE-double
    # arithmetic as numpy scalars at ~8x less per-element overhead
    # (profiled: the numpy-scalar chain was the db/craft postprocess
    # hot spot); identical products/differences -> identical hull
    xs = pts[order, 0].tolist()
    ys = pts[order, 1].tolist()
    n = len(xs)

    def chain(idx_iter):
        hx: list[float] = []
        hy: list[float] = []
        for i in idx_iter:
            px, py = xs[i], ys[i]
            while len(hx) >= 2 and (
                (hx[-1] - hx[-2]) * (py - hy[-2])
                - (hy[-1] - hy[-2]) * (px - hx[-2])
            ) <= 0:
                hx.pop()
                hy.pop()
            hx.append(px)
            hy.append(py)
        return hx, hy

    lx, ly = chain(range(n))
    ux, uy = chain(range(n - 1, -1, -1))
    return np.array(
        [lx[:-1] + ux[:-1], ly[:-1] + uy[:-1]], dtype=np.float64
    ).T


def min_area_rect(points: np.ndarray) -> tuple[tuple[float, float], tuple[float, float], float]:
    """Minimum-area oriented bounding rect of a point set (F20) — the
    rotating-calipers re-expression of cv2.minAreaRect. Returns
    ((cx, cy), (w, h), angle_deg) where the rect edge of length w makes
    ``angle_deg`` with the x axis."""
    hull = convex_hull(points)
    if len(hull) == 0:
        return ((0.0, 0.0), (0.0, 0.0), 0.0)
    if len(hull) == 1:
        return ((float(hull[0, 0]), float(hull[0, 1])), (0.0, 0.0), 0.0)
    if len(hull) == 2:
        d = hull[1] - hull[0]
        c = (hull[0] + hull[1]) / 2.0
        return (
            (float(c[0]), float(c[1])),
            (float(np.hypot(*d)), 0.0),
            float(np.degrees(np.arctan2(d[1], d[0]))),
        )
    edges = np.roll(hull, -1, axis=0) - hull
    angles = np.arctan2(edges[:, 1], edges[:, 0])
    thetas = np.unique(np.mod(angles, np.pi / 2))
    # one batched sweep over the candidate angles instead of a python
    # loop of tiny matmuls: rots[k] == hull @ [[c,-s],[s,c]] elementwise
    # (each entry is the same two-term a*c+b*s product), and argmin
    # picks the FIRST minimal area over the same sorted theta order the
    # loop walked — the same selection (tier: bitwise on this BLAS, as
    # the batched matmul must round each two-term product like the loop
    # did; test_min_area_rect_* pin the rectangle to tolerance)
    cs, sn = np.cos(thetas), np.sin(thetas)
    R = np.empty((len(thetas), 2, 2))
    R[:, 0, 0] = cs
    R[:, 0, 1] = -sn
    R[:, 1, 0] = sn
    R[:, 1, 1] = cs
    rots = hull[None] @ R  # (K, n, 2)
    lo = rots.min(axis=1)
    hi = rots.max(axis=1)
    areas = (hi[:, 0] - lo[:, 0]) * (hi[:, 1] - lo[:, 1])
    k = int(np.argmin(areas))
    theta = float(thetas[k])
    x0, y0 = lo[k]
    x1, y1 = hi[k]
    c, s = float(cs[k]), float(sn[k])
    # the forward map above is p_rot = R(-theta) @ p_img; invert it to put
    # the rect center back in image coordinates, and report +theta so that
    # box_points (which rotates by +angle) round-trips the corners exactly
    cx_r, cy_r = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    cx = cx_r * c - cy_r * s
    cy = cx_r * s + cy_r * c
    return ((float(cx), float(cy)), (float(x1 - x0), float(y1 - y0)), float(np.degrees(theta)))


def box_points(rect) -> np.ndarray:
    """4 corners of a ((cx,cy),(w,h),angle_deg) rect (cv2.boxPoints shape)."""
    (cx, cy), (w, h), ang = rect
    t = np.radians(ang)
    c, s = np.cos(t), np.sin(t)
    dx, dy = w / 2.0, h / 2.0
    corners = np.array([[-dx, -dy], [dx, -dy], [dx, dy], [-dx, dy]])
    r = corners @ np.array([[c, s], [-s, c]])
    return r + np.array([cx, cy])


def mini_box(points: np.ndarray) -> tuple[np.ndarray, float]:
    """Reference `_get_mini_boxes` (db/model.py:161-177): minAreaRect
    corners in canonical clockwise-from-top-left order plus the short
    side length."""
    rect = min_area_rect(points)
    pts = sorted(box_points(rect).tolist(), key=lambda p: p[0])
    if pts[1][1] > pts[0][1]:
        i1, i4 = 0, 1
    else:
        i1, i4 = 1, 0
    if pts[3][1] > pts[2][1]:
        i2, i3 = 2, 3
    else:
        i2, i3 = 3, 2
    box = np.array([pts[i1], pts[i2], pts[i3], pts[i4]])
    return box, float(min(rect[1]))


# ---------------------------------------------------------------------------
# DB postprocess (F19, P9, F21, db/model.py:214-262)
# ---------------------------------------------------------------------------


def resize_to_multiple_of_32(
    img: np.ndarray, max_side_len: int = 960
) -> tuple[np.ndarray, tuple[int, int], tuple[float, float]]:
    """F19 (db/model.py:128-147): cap the long side at max_side_len,
    round both dims to multiples of 32 (min 32), nearest-neighbor resize
    (cv2-free). Returns (resized, (orig_h, orig_w), (ratio_h, ratio_w))."""
    h, w = img.shape[:2]
    ratio = 1.0
    if max(h, w) > max_side_len:
        ratio = max_side_len / max(h, w)
    new_h = max(32, int(round(h * ratio / 32) * 32))
    new_w = max(32, int(round(w * ratio / 32) * 32))
    ys = np.clip((np.arange(new_h) * (h / new_h)).astype(int), 0, h - 1)
    xs = np.clip((np.arange(new_w) * (w / new_w)).astype(int), 0, w - 1)
    resized = img[ys][:, xs]
    return resized, (h, w), (new_h / h, new_w / w)


def _quad_mask(box: np.ndarray, y0: int, y1: int, x0: int, x1: int) -> np.ndarray:
    """Boolean mask of the convex quad over the pixel grid [y0,y1)x[x0,x1)."""
    yy, xx = np.mgrid[y0:y1, x0:x1]
    inside = np.ones(yy.shape, dtype=bool)
    n = len(box)
    for i in range(n):
        ax, ay = box[i]
        bx, by = box[(i + 1) % n]
        cross = (bx - ax) * (yy - ay) - (by - ay) * (xx - ax)
        inside &= cross >= 0
    return inside


def box_score_fast(pred: np.ndarray, box: np.ndarray) -> float:
    """P9 (db/model.py:179-197): mean predicted probability inside the
    quad. The quad may wind either way; use whichever orientation yields
    a non-empty mask."""
    h, w = pred.shape
    xmin = int(np.clip(np.floor(box[:, 0].min()), 0, w - 1))
    xmax = int(np.clip(np.ceil(box[:, 0].max()), 0, w - 1))
    ymin = int(np.clip(np.floor(box[:, 1].min()), 0, h - 1))
    ymax = int(np.clip(np.ceil(box[:, 1].max()), 0, h - 1))
    if xmax <= xmin or ymax <= ymin:
        return 0.0
    mask = _quad_mask(box, ymin, ymax + 1, xmin, xmax + 1)
    if not mask.any():
        mask = _quad_mask(box[::-1], ymin, ymax + 1, xmin, xmax + 1)
    if not mask.any():
        return 0.0
    return float(pred[ymin : ymax + 1, xmin : xmax + 1][mask].mean())


def unclip_rect(box: np.ndarray, unclip_ratio: float = 1.6) -> np.ndarray | None:
    """F21 (db/model.py:199-212): grow the rect outward by
    d = area * unclip_ratio / perimeter. The reference offsets with
    pyclipper round joins and then re-takes minAreaRect — for a rectangle
    that equals growing each side by d, which is what this does."""
    v1 = box[1] - box[0]
    v2 = box[3] - box[0]
    w = float(np.hypot(*v1))
    h = float(np.hypot(*v2))
    area = w * h
    perimeter = 2.0 * (w + h)
    if area == 0 or perimeter == 0:
        return None
    d = area * unclip_ratio / perimeter
    u1 = v1 / w if w > 0 else np.zeros(2)
    u2 = v2 / h if h > 0 else np.zeros(2)
    grown = np.array(
        [
            box[0] - u1 * d - u2 * d,
            box[1] + u1 * d - u2 * d,
            box[2] + u1 * d + u2 * d,
            box[3] - u1 * d + u2 * d,
        ]
    )
    return grown


def db_boxes_from_bitmap(
    pred: np.ndarray,
    bitmap: np.ndarray,
    dest_width: int,
    dest_height: int,
    box_thresh: float = 0.5,
    unclip_ratio: float = 1.6,
    min_size: int = 3,
    max_candidates: int = 1000,
    score_mode: str = "fast",
) -> tuple[list[np.ndarray], list[float]]:
    """db/model.py:214-262 `_boxes_from_bitmap`: connected components of
    the binarized map stand in for cv2.findContours (minAreaRect over a
    component's member pixels equals minAreaRect over its contour);
    mini-box -> min-size filter -> box_score filter -> unclip -> second
    min-size filter -> rescale to the destination frame.

    score_mode='fast' (the reference's box_score_fast: quad-mask mean)
    is the default; 'slow' scores the mean over the COMPONENT's own
    member pixels (DBNet's box_score_slow variant, which PaddleOCR
    exposes as det_db_score_mode) — on a component whose minAreaRect
    spans low-probability background (e.g. two stacked text lines fused
    at /4 stride), the fast quad mean dilutes below box_thresh and drops
    real text, while the slow score rates only the detected pixels."""
    height, width = bitmap.shape
    labels = connected_components(bitmap, connectivity=8)
    n = int(labels.max())
    stats = component_stats(labels)
    boxes: list[np.ndarray] = []
    scores: list[float] = []
    for k in range(1, min(n, max_candidates) + 1):
        # a component lives inside its bounding box: scan the window,
        # not the whole map (identical ys/xs in the same row-major
        # order, so every downstream float — including the slow-score
        # mean's summation order — is bit-unchanged)
        bx, by, bw, bh, _ = (int(v) for v in stats[k - 1])
        wys, wxs = np.nonzero(labels[by : by + bh, bx : bx + bw] == k)
        ys, xs = wys + by, wxs + bx
        if len(xs) < 4:
            continue
        pts = np.column_stack([xs, ys]).astype(np.float64)
        box, sside = mini_box(pts)
        if sside < min_size:
            continue
        if score_mode == "slow":
            score = float(pred[ys, xs].mean())
        else:
            score = box_score_fast(pred, box)
        if score < box_thresh:
            continue
        expanded = unclip_rect(box, unclip_ratio)
        if expanded is None:
            continue
        box, sside = mini_box(expanded)
        if sside < min_size + 2:
            continue
        box = box.copy()
        box[:, 0] = np.clip(box[:, 0] / width * dest_width, 0, dest_width)
        box[:, 1] = np.clip(box[:, 1] / height * dest_height, 0, dest_height)
        boxes.append(box)
        scores.append(score)
    return boxes, scores


def db_postprocess(
    prob_map: np.ndarray,
    dest_width: int,
    dest_height: int,
    thresh: float = 0.3,
    box_thresh: float = 0.5,
    unclip_ratio: float = 1.6,
    min_size: int = 3,
    score_mode: str = "fast",
) -> tuple[list[np.ndarray], list[float]]:
    """Full DB postprocess with the reference defaults
    (db/model.py:43-47): binarize at `thresh`, extract scored boxes."""
    bitmap = prob_map > thresh
    return db_boxes_from_bitmap(
        prob_map,
        bitmap,
        dest_width,
        dest_height,
        box_thresh=box_thresh,
        unclip_ratio=unclip_ratio,
        min_size=min_size,
        score_mode=score_mode,
    )


# ---------------------------------------------------------------------------
# CRAFT postprocess (P10, craft/utils.py:16-103)
# ---------------------------------------------------------------------------


def _dilate_square(mask: np.ndarray, k: int) -> np.ndarray:
    """(k x k) square dilation, separable: r vertical max-shift passes then
    r horizontal passes compose to the exact square structuring element
    (a single fused cross pass would grow an L1 diamond and miss corners)."""
    if k <= 1:
        return mask
    r = k // 2
    out = mask.copy()
    for _ in range(r):
        grown = out.copy()
        grown[1:, :] |= out[:-1, :]
        grown[:-1, :] |= out[1:, :]
        out = grown
    for _ in range(r):
        grown = out.copy()
        grown[:, 1:] |= out[:, :-1]
        grown[:, :-1] |= out[:, 1:]
        out = grown
    return out


def craft_boxes(
    textmap: np.ndarray,
    linkmap: np.ndarray,
    text_threshold: float = 0.7,
    link_threshold: float = 0.4,
    low_text: float = 0.4,
) -> list[np.ndarray]:
    """P10 (craft/utils.py:16-103 getDetBoxes_core): threshold the text
    and link score maps, 4-connected components of their union, per
    component: size >= 10 filter, max-text-score >= text_threshold filter,
    drop link-only pixels, dilate by the sqrt-scaled square kernel, then
    minAreaRect with the diamond-alignment axis fallback."""
    img_h, img_w = textmap.shape
    text_score = textmap >= low_text
    link_score = linkmap >= link_threshold
    comb = text_score | link_score
    labels = connected_components(comb, connectivity=4)
    stats = component_stats(labels)
    det: list[np.ndarray] = []
    for k, (x, y, w, h, size) in enumerate(stats, start=1):
        if size < 10:
            continue
        # all of this component's pixels — and its dilated segmap — live
        # inside the [sy:ey, sx:ex] window; run the per-component mask
        # ops there instead of over the whole map (same pixels, same
        # row-major order: bitwise the same boxes by construction, no
        # BLAS)
        niter = int(np.sqrt(size * min(w, h) / (w * h)) * 2)
        sx, ex = max(int(x) - niter, 0), min(int(x + w) + niter + 1, img_w)
        sy, ey = max(int(y) - niter, 0), min(int(y + h) + niter + 1, img_h)
        member = labels[sy:ey, sx:ex] == k
        if float(textmap[sy:ey, sx:ex][member].max()) < text_threshold:
            continue
        segmap = member.copy()
        segmap[
            link_score[sy:ey, sx:ex] & ~text_score[sy:ey, sx:ex]
        ] = False  # remove link-only area
        segmap = _dilate_square(segmap, 1 + niter)
        wys, wxs = np.nonzero(segmap)
        ys, xs = wys + sy, wxs + sx
        pts = np.column_stack([xs, ys]).astype(np.float64)
        box = box_points(min_area_rect(pts))
        # diamond-shape alignment: near-square rotated boxes snap to AABB
        bw = float(np.linalg.norm(box[0] - box[1]))
        bh = float(np.linalg.norm(box[1] - box[2]))
        box_ratio = max(bw, bh) / (min(bw, bh) + 1e-5)
        if abs(1 - box_ratio) <= 0.1:
            l, r = xs.min(), xs.max()
            t, b = ys.min(), ys.max()
            box = np.array([[l, t], [r, t], [r, b], [l, b]], dtype=np.float64)
        det.append(box)
    return det


# ---------------------------------------------------------------------------
# MODEL SEAM (M5/M6 stubs) — deterministic pseudo heatmaps for plumbing
# ---------------------------------------------------------------------------


def _box_blur(x: np.ndarray, k: int = 3) -> np.ndarray:
    p = np.pad(x.astype(np.float64), k, mode="constant")
    ii = np.pad(p, ((1, 0), (1, 0))).cumsum(0).cumsum(1)
    w = 2 * k + 1
    out = (
        ii[w:, w:] - ii[:-w, w:] - ii[w:, :-w] + ii[:-w, :-w]
    ) / (w * w)
    return out[: x.shape[0], : x.shape[1]]


def fake_prob_map(ink: np.ndarray) -> np.ndarray:
    """M5 seam: a deterministic stand-in for the DB ONNX forward pass —
    box-blurred ink density in [0, 1]. NOT a neural detector; exists so
    db_postprocess is testable in-sandbox where onnxruntime is absent."""
    return np.clip(_box_blur(ink, 2) * 1.5, 0.0, 1.0)


def fake_heatmaps(ink: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """M6 seam: deterministic text/link score maps from an ink mask
    (blurred density as 'text', a wider blur as inter-char 'link')."""
    text = np.clip(_box_blur(ink, 1) * 1.8, 0.0, 1.0)
    link = np.clip(_box_blur(ink, 4) * 1.2, 0.0, 1.0)
    return text, link
