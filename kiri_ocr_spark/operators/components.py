"""Pure-numpy connected components + box algebra.

Re-implements, without cv2, the geometric kernels the reference gets from
OpenCV/numpy:

- ``connected_components``   ~ cv2.connectedComponentsWithStats
  (/root/reference/kiri_ocr/detector/legacy/detector.py:501,575 — the core
  line-segmentation primitive), run-based two-pass union-find,
  8-connectivity.
- ``iou`` / ``nms``          ~ the IoU dedup pass
  (/root/reference/kiri_ocr/detector/legacy/detector.py:679-729).
- ``merge_overlapping``      ~ the vertical-overlap merge fold
  (/root/reference/kiri_ocr/detector/__init__.py:331-367).
- ``filter_components``      ~ the size/aspect predicates
  (/root/reference/kiri_ocr/detector/legacy/detector.py:624-677).

All of these run per-image *inside* Arrow-vectorized UDFs — they are the
kernel layer, not table operators (SURVEY.md §2.2/§2.7).
"""

from __future__ import annotations

import numpy as np

# boxes are (N, 5) float arrays: x, y, w, h, confidence


def connected_components(binary: np.ndarray, connectivity: int = 8) -> np.ndarray:
    """8- (default) or 4-connected components of a boolean image.

    Returns int32 label image, 0 = background, labels 1..n contiguous.
    Run-based two-pass union-find: all row runs are extracted in one
    vectorized diff pass; adjacency between a run and the previous row's
    runs is a contiguous slice found by binary search (both run lists are
    sorted and disjoint), so total work is O(runs + overlaps) instead of
    O(runs^2) — this kernel sits in the per-image OCR hot path.
    4-connectivity (CRAFT postprocess uses cv2's connectivity=4) narrows
    the run-overlap window to strict overlap: pe > s and ps < e.
    """
    h, w = binary.shape
    labels = np.zeros((h, w), dtype=np.int32)
    pad = np.zeros((h, w + 2), dtype=np.int8)
    pad[:, 1:-1] = binary
    d = np.diff(pad, axis=1)
    ys, xs = np.nonzero(d == 1)
    ys_e, xs_e = np.nonzero(d == -1)
    if len(xs) == 0:
        return labels
    # runs of row y occupy a contiguous block in (ys, xs); same for ends
    row_bounds = np.searchsorted(ys, np.arange(h + 1))

    parent = [0]  # union-find parents; index 0 unused

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    next_label = 1
    prev_starts = np.zeros(0, dtype=np.int64)
    prev_ends = np.zeros(0, dtype=np.int64)
    prev_labels: list[int] = []
    # python-int lists in the run loop: the per-run work is a handful of
    # scalar ops and numpy-scalar indexing cost ~3x the loop body
    # (profiled on the hierarchy pages) — same algorithm, same labels
    row_bounds_l = row_bounds.tolist()
    for y in range(h):
        lo_b, hi_b = row_bounds_l[y], row_bounds_l[y + 1]
        if lo_b == hi_b:
            prev_starts = np.zeros(0, dtype=np.int64)
            prev_ends = np.zeros(0, dtype=np.int64)
            prev_labels = []
            continue
        starts = xs[lo_b:hi_b]
        ends = xs_e[lo_b:hi_b]
        # 8-connectivity: prev run [ps,pe) touches cur [s,e) iff pe >= s
        # and ps <= e (exclusive ends; the diagonal widens the window by 1)
        if connectivity == 8:
            los = np.searchsorted(prev_ends, starts, side="left")
            his = np.searchsorted(prev_starts, ends, side="right")
        else:  # 4-conn: strict column overlap, no diagonal reach
            los = np.searchsorted(prev_ends, starts, side="right")
            his = np.searchsorted(prev_starts, ends, side="left")
        row_labels: list[int] = []
        starts_l = starts.tolist()
        ends_l = ends.tolist()
        los_l = los.tolist()
        his_l = his.tolist()
        row = labels[y]
        for k, (s, e, lo, hi) in enumerate(
            zip(starts_l, ends_l, los_l, his_l)
        ):
            if lo < hi:
                lab = find(prev_labels[lo])
                for j in range(lo + 1, hi):
                    rb = find(prev_labels[j])
                    if rb != lab:
                        if rb < lab:
                            parent[lab] = rb
                            lab = rb
                        else:
                            parent[rb] = lab
            else:
                lab = next_label
                parent.append(lab)
                next_label += 1
            row_labels.append(lab)
            row[s:e] = lab
        prev_starts, prev_ends, prev_labels = starts, ends, row_labels
    if next_label == 1:
        return labels
    roots = np.array([find(i) for i in range(next_label)], dtype=np.int32)
    uniq = np.unique(roots[1:])
    remap = np.zeros(next_label, dtype=np.int32)
    remap[uniq] = np.arange(1, len(uniq) + 1, dtype=np.int32)
    # compose the two lookup tables first: one full-image gather
    # instead of two (remap[roots[labels]] == (remap[roots])[labels])
    return remap[roots][labels]


def component_stats(labels: np.ndarray) -> np.ndarray:
    """(n, 5) int array of x, y, w, h, area for labels 1..n."""
    n = int(labels.max())
    if n == 0:
        return np.zeros((0, 5), dtype=np.int64)
    ys, xs = np.nonzero(labels)
    labs = labels[ys, xs]
    order = np.argsort(labs, kind="stable")
    labs, ys, xs = labs[order], ys[order], xs[order]
    bounds = np.searchsorted(labs, np.arange(1, n + 2))
    # labels are contiguous 1..n with >=1 pixel each, so every segment
    # [bounds[i], bounds[i+1]) is non-empty and reduceat is safe
    starts = bounds[:-1]
    x0 = np.minimum.reduceat(xs, starts)
    x1 = np.maximum.reduceat(xs, starts)
    y0 = np.minimum.reduceat(ys, starts)
    y1 = np.maximum.reduceat(ys, starts)
    return np.column_stack(
        [x0, y0, x1 - x0 + 1, y1 - y0 + 1, np.diff(bounds)]
    ).astype(np.int64)


def iou(a: np.ndarray, b: np.ndarray) -> float:
    """IoU of two (x, y, w, h) boxes (reference legacy/detector.py:708-729)."""
    ax2, ay2 = a[0] + a[2], a[1] + a[3]
    bx2, by2 = b[0] + b[2], b[1] + b[3]
    ix = max(0.0, min(ax2, bx2) - max(a[0], b[0]))
    iy = max(0.0, min(ay2, by2) - max(a[1], b[1]))
    inter = ix * iy
    union_area = a[2] * a[3] + b[2] * b[3] - inter
    return float(inter / union_area) if union_area > 0 else 0.0


def nms(boxes: np.ndarray, iou_threshold: float = 0.5) -> np.ndarray:
    """Keep highest-confidence box per IoU>threshold cluster.

    Mirrors the legacy dedup (legacy/detector.py:679-706): sort by
    confidence desc, greedily suppress overlapping boxes.
    """
    if len(boxes) == 0:
        return boxes
    # incremental kept-coordinate buffers: the former per-candidate
    # np.array(kept) + five fancy gathers were O(n^2) allocation churn;
    # buf[:m] holds the SAME values in the SAME insertion order, so the
    # per-element IoU arithmetic and suppress decisions are unchanged
    # (tier: bitwise by construction, no BLAS).
    # (A python-scalar early-exit variant was A/B'd and LOST on real
    # MSER decks — kept sets grow into the hundreds, where the batched
    # check wins; measurement recorded in OPTIMIZATION_r07.md.)
    x1 = boxes[:, 0]
    y1 = boxes[:, 1]
    x2 = boxes[:, 0] + boxes[:, 2]
    y2 = boxes[:, 1] + boxes[:, 3]
    areas = boxes[:, 2] * boxes[:, 3]
    n = len(boxes)
    kx1 = np.empty(n)
    ky1 = np.empty(n)
    kx2 = np.empty(n)
    ky2 = np.empty(n)
    ka = np.empty(n)
    kept: list[int] = []
    m = 0
    for idx in np.argsort(-boxes[:, 4], kind="stable").tolist():
        if m:
            ix = np.minimum(x2[idx], kx2[:m]) - np.maximum(x1[idx], kx1[:m])
            iy = np.minimum(y2[idx], ky2[:m]) - np.maximum(y1[idx], ky1[:m])
            inter = np.maximum(ix, 0.0) * np.maximum(iy, 0.0)
            union_area = areas[idx] + ka[:m] - inter
            ious = np.where(
                union_area > 0, inter / np.maximum(union_area, 1e-300), 0.0
            )
            if (ious > iou_threshold).any():
                continue
        kx1[m] = x1[idx]
        ky1[m] = y1[idx]
        kx2[m] = x2[idx]
        ky2[m] = y2[idx]
        ka[m] = areas[idx]
        kept.append(idx)
        m += 1
    return boxes[np.array(sorted(kept), dtype=np.int64)]


def merge_overlapping(boxes: np.ndarray, overlap_frac: float = 0.3) -> np.ndarray:
    """Order-dependent vertical-overlap merge fold.

    Mirrors detector/__init__.py:331-367: boxes sorted by y; consecutive
    boxes whose vertical overlap exceeds overlap_frac * min(h) merge into
    their hull, confidences averaged. Sequential by construction — must run
    per-image, never as a commutative aggregate (SURVEY.md §7.4.2).
    """
    if len(boxes) == 0:
        return boxes
    boxes = boxes[np.argsort(boxes[:, 1], kind="stable")]
    merged = [boxes[0].copy()]
    counts = [1]
    for b in boxes[1:]:
        m = merged[-1]
        ov = min(m[1] + m[3], b[1] + b[3]) - max(m[1], b[1])
        if ov > overlap_frac * min(m[3], b[3]):
            x1, y1 = min(m[0], b[0]), min(m[1], b[1])
            x2, y2 = max(m[0] + m[2], b[0] + b[2]), max(m[1] + m[3], b[1] + b[3])
            total = m[4] * counts[-1] + b[4]
            counts[-1] += 1
            merged[-1] = np.array([x1, y1, x2 - x1, y2 - y1, total / counts[-1]])
        else:
            merged.append(b.copy())
            counts.append(1)
    return np.stack(merged)


def filter_components(
    stats: np.ndarray,
    img_w: int,
    img_h: int,
    min_w: int = 2,
    min_h: int = 6,
    max_h_frac: float = 0.5,
    max_w_frac: float = 0.98,
    aspect_lo: float = 0.02,
    aspect_hi: float = 50.0,
) -> np.ndarray:
    """Size/aspect predicates of legacy/detector.py:624-677 as a numpy mask."""
    if len(stats) == 0:
        return stats
    w = stats[:, 2].astype(np.float64)
    h = stats[:, 3].astype(np.float64)
    aspect = np.divide(w, h, out=np.zeros_like(w), where=h > 0)
    keep = (
        (w >= min_w)
        & (h >= min_h)
        & (h <= max_h_frac * img_h)
        & (w <= max_w_frac * img_w)
        & (aspect > aspect_lo)
        & (aspect < aspect_hi)
    )
    return stats[keep]


def relative_size_filter(stats: np.ndarray, lo: float = 0.15, hi: float = 5.0) -> np.ndarray:
    """Keep lo*median_h <= h <= hi*median_h (legacy/detector.py:662-672)."""
    if len(stats) == 0:
        return stats
    med = float(np.median(stats[:, 3]))
    keep = (stats[:, 3] >= lo * med) & (stats[:, 3] <= hi * med)
    return stats[keep]
