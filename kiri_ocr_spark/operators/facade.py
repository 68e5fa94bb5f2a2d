"""Unified detector facade — the reference's method switch re-expressed.

/root/reference/kiri_ocr/detector/__init__.py:25-151 `TextDetector`:
``method: str = 'craft'`` with automatic fallback to the legacy CV
detector whenever the neural backend (weights / runtime) is unavailable.
This engine mirrors that contract:

- ``legacy``: the multi-method candidate path (CC ∪ MSER ∪ gradient,
  reference filters, adaptive line grouping, padded-hull overlap merge).
- ``craft`` / ``db``: the heatmap postprocessing paths of
  ``operators/heatmap_post.py``. The neural forward pass is a pluggable
  ``heatmap_fn`` — on a cluster with onnxruntime/torch, pass a wrapper
  around the real model; in-sandbox, ``operators/db_forward.db_prob_map``
  (and ``craft_forward.craft_maps``) are real numpy convnet forwards
  honoring the ONNX I/O contract (calibrated weights, hand-constructed
  fallback), and the deterministic seams (``fake_heatmaps`` /
  ``fake_prob_map``) remain for plumbing tests. ``heatmap_fn=None``
  resolves that in-repo forward; only when its import fails does the
  detector take the reference's missing-weights path: warn + fall back
  to legacy (detector/__init__.py:115-151).

Per-image kernel, embarrassingly parallel at table scope (wrap in
mapInPandas like every other kernel here).
"""

from __future__ import annotations

import warnings
from typing import Callable

import numpy as np

from .components import filter_components, relative_size_filter
from .detect import (
    bbox_hull,
    binarize,
    detect_lines,
    group_blocks,
    group_into_lines,
    invert_if_dark,
    line_boxes_from_groups,
    merge_boxes_into_rows,
    orient_and_binarize,
    reading_order,
    reading_order_db,
    split_box_at_blank_rows,
    split_words,
)
from .finders import estimate_text_metrics, multi_method_candidates


def default_heatmap_fn(method: str) -> Callable | None:
    """Resolve the in-repo numpy forward for a neural method — the
    reference constructs its DB/CRAFT model from bundled weights by
    default (detector/__init__.py:25-60); here the bundled 'weights' are
    the hand-constructed forwards of ``db_forward``/``craft_forward``.
    Returns None when the backend genuinely can't load (the reference's
    missing-weights condition), which triggers the legacy fallback."""
    try:
        if method == "db":
            from .db_forward import db_prob_map

            return db_prob_map
        if method == "craft":
            from .craft_forward import craft_maps

            return craft_maps
    except ImportError:
        return None
    return None


class TextDetector:
    """method='craft'|'db'|'legacy'; a neural method with no explicit
    ``heatmap_fn`` resolves the in-repo numpy forward via
    ``default_heatmap_fn`` and only falls back to 'legacy' (with the
    reference's warning) when that resolution fails — mirroring the
    reference, whose facade instantiates its bundled model by default and
    falls back only when weights/runtime are missing."""

    def __init__(
        self,
        method: str = "craft",
        heatmap_fn: Callable | None = None,
        **kwargs,
    ):
        if method not in ("craft", "db", "legacy"):
            raise ValueError(f"unknown method {method!r}")
        if method in ("craft", "db") and heatmap_fn is None:
            heatmap_fn = default_heatmap_fn(method)
        if method in ("craft", "db") and heatmap_fn is None:
            warnings.warn(
                f"{method} backend needs a heatmap_fn (neural forward pass); "
                "falling back to legacy — mirror of the reference's "
                "missing-weights fallback (detector/__init__.py:115-151)."
            )
            method = "legacy"
        self.method = method
        self.heatmap_fn = heatmap_fn
        self.kwargs = kwargs

    def detect_boxes(self, gray: np.ndarray) -> np.ndarray:
        """(n, 5) x y w h conf line boxes, in the method's reading order
        (W1 0.7/center-x for craft/legacy per the facade, W2 0.8/left-x
        for db per the DB detector's own sorter)."""
        gray = invert_if_dark(np.asarray(gray, dtype=np.uint8))
        if self.method == "legacy":
            boxes = self._legacy_boxes(gray)
        elif self.method == "db":
            boxes = self._db_boxes(gray)
        else:
            boxes = self._craft_boxes(gray)
        if len(boxes) == 0 and self.method != "legacy":
            # reference behavior: neural path found nothing -> legacy pass
            boxes = self._legacy_boxes(gray)
        if len(boxes) == 0:
            return np.zeros((0, 5))
        order_fn = reading_order_db if self.method == "db" else reading_order
        return boxes[order_fn(boxes)]

    def detect_line_boxes(self, gray: np.ndarray, ink: np.ndarray) -> np.ndarray:
        """(n, 5) recognition-grade text-line boxes, top-down — the one
        lines-mode detection every page kernel shares (the OCR class, the
        trained extraction kernel, the media_text_* queries).

        The in-sandbox-calibrated neural detectors emit word/region-grade
        boxes; normalize them to text lines: W3 row clustering over the
        boxes, then a blank-row band split inside each row hull (DB's
        unclipped regions can span two tight lines); each band is tight
        to its ink and keeps its row's score. A production-trained
        DBNet/CRAFT emits line-grade regions and both steps reduce to
        no-ops. Legacy boxes are already line-grade and pass through.
        ``ink`` is the caller's binarization of ``gray`` (the band split
        reads it)."""
        boxes = self.detect_boxes(gray)
        if self.method == "legacy":
            return boxes
        lines = [
            (*b[:4], row[4])
            for row in merge_boxes_into_rows(boxes)
            for b in split_box_at_blank_rows(ink, row)
        ]
        return np.array(lines, dtype=float).reshape(-1, 5)

    def detect_lines(self, gray: np.ndarray) -> list[tuple[int, int, int, int]]:
        """Reference `detect_lines` shape: bboxes only."""
        return [
            (int(b[0]), int(b[1]), int(b[2]), int(b[3]))
            for b in self.detect_boxes(gray)
        ]

    def detect_words(self, gray: np.ndarray) -> list[tuple[int, int, int, int]]:
        """Word-level boxes. EVERY method falls back to the legacy
        component path here — exactly the reference facade, whose neural
        backends detect lines only (detector/__init__.py:293-297). Per
        detected line, detect.split_words splits at blank-column runs >= 3
        unit columns — the renderer's space contract and the same rule the
        oracled word_segmentation query applies. The fixed-unit rule is the
        exact one for this engine's glyph raster; the reference's
        statistical component-gap variant (W5) is not implemented."""
        gray, ink = orient_and_binarize(np.asarray(gray, dtype=np.uint8))
        return [w for box in detect_lines(gray, ink=ink) for w in split_words(ink, box)]

    def detect_blocks(self, gray: np.ndarray) -> list[tuple[int, int, int, int]]:
        """Block-level boxes: the METHOD's own lines grouped by the legacy
        block logic (reference facade detector/__init__.py:299-320)."""
        lines = self.detect_boxes(gray)
        if len(lines) == 0:
            return []
        return [
            tuple(int(v) for v in bbox_hull(lines[idx])[:4])
            for idx in group_blocks(lines)
        ]

    def detect_characters(self, gray: np.ndarray) -> list[tuple[int, int, int, int]]:
        """Character-level boxes — always the legacy component path, like
        the reference facade (detector/__init__.py:323-325): the filtered
        candidate components ARE the character level."""
        gray = invert_if_dark(np.asarray(gray, dtype=np.uint8))
        ink = binarize(gray)
        kept = multi_method_candidates(gray, ink)
        if len(kept):
            kept = filter_components(kept, gray.shape[1], gray.shape[0])
            kept = relative_size_filter(kept)
        if len(kept) == 0:
            return []
        order = np.lexsort((kept[:, 0], kept[:, 1]))
        return [
            (int(b[0]), int(b[1]), int(b[2]), int(b[3])) for b in kept[order]
        ]

    def detect_all(self, gray: np.ndarray) -> list[dict]:
        """Full hierarchy (reference detect_all, legacy detector.py:137-147
        / facade :327-329): blocks containing their lines containing their
        words, as nested dicts (the TextBox tree's data without the
        class)."""
        gray = invert_if_dark(np.asarray(gray, dtype=np.uint8))
        lines = self.detect_boxes(gray)
        words = self.detect_words(gray)

        def inside(inner, outer) -> bool:
            ix, iy, iw, ih = inner[:4]
            ox, oy, ow, oh = outer[:4]
            cx, cy = ix + iw / 2, iy + ih / 2
            return ox <= cx <= ox + ow and oy <= cy <= oy + oh

        out = []
        if len(lines) == 0:
            return out
        for idx in group_blocks(lines):
            hull = bbox_hull(lines[idx])
            block_box = tuple(int(v) for v in hull[:4])
            block_lines = []
            for li in idx:
                lb = tuple(int(v) for v in lines[li][:4])
                block_lines.append(
                    {
                        "bbox": lb,
                        "words": [
                            {"bbox": w} for w in words if inside(w, lb)
                        ],
                    }
                )
            out.append({"bbox": block_box, "lines": block_lines})
        return out

    # -- backends ----------------------------------------------------------

    def _legacy_boxes(self, gray: np.ndarray) -> np.ndarray:
        ink = binarize(gray)
        kept = multi_method_candidates(gray, ink)
        if len(kept):
            kept = filter_components(kept, gray.shape[1], gray.shape[0])
            kept = relative_size_filter(kept)
        groups = group_into_lines(kept)
        _, _, pad = estimate_text_metrics(kept)
        return line_boxes_from_groups(
            groups, gray.shape[1], gray.shape[0], padding=pad
        )

    def _db_boxes(self, gray: np.ndarray) -> np.ndarray:
        from .heatmap_post import db_postprocess, resize_to_multiple_of_32

        resized, (h, w), _ = resize_to_multiple_of_32(
            gray, self.kwargs.get("max_side_len", 960)
        )
        prob_map = self.heatmap_fn(resized)
        quads, scores = db_postprocess(
            prob_map,
            dest_width=w,
            dest_height=h,
            thresh=self.kwargs.get("det_db_thresh", 0.3),
            box_thresh=self.kwargs.get("det_db_box_thresh", 0.5),
            unclip_ratio=self.kwargs.get("det_db_unclip_ratio", 1.6),
            min_size=self.kwargs.get("min_size", 3),
            score_mode=self.kwargs.get("det_db_score_mode", "fast"),
        )
        return _quads_to_boxes(quads, scores)

    def _craft_boxes(self, gray: np.ndarray) -> np.ndarray:
        from .heatmap_post import craft_boxes

        textmap, linkmap = self.heatmap_fn(gray)
        quads = craft_boxes(
            textmap,
            linkmap,
            text_threshold=self.kwargs.get("text_threshold", 0.7),
            link_threshold=self.kwargs.get("link_threshold", 0.4),
            low_text=self.kwargs.get("low_text", 0.4),
        )
        return _quads_to_boxes(quads, [1.0] * len(quads))


def _quads_to_boxes(quads: list[np.ndarray], scores: list[float]) -> np.ndarray:
    """AABB + confidence per quad (the facade's bbox contract)."""
    if not quads:
        return np.zeros((0, 5))
    out = []
    for q, s in zip(quads, scores):
        x0, y0 = q[:, 0].min(), q[:, 1].min()
        x1, y1 = q[:, 0].max(), q[:, 1].max()
        out.append((float(x0), float(y0), float(x1 - x0), float(y1 - y0), float(s)))
    return np.array(out)
