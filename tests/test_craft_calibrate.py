"""CRAFT-forward calibration (M6 fitted weights): forward parity,
gradient laws, affinity targets, and the fitted maps' quality."""

from __future__ import annotations

import os

import numpy as np
import pytest

from kiri_ocr_spark.operators import craft_calibrate as CC
from kiri_ocr_spark.operators import craft_forward as CF

_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "models",
    "craft_calibrated.npz",
)


def test_forward_cached_parity_with_craft_maps():
    rng = np.random.default_rng(0)
    gray = (rng.random((24, 40)) * 255).astype(np.uint8)
    params = {k: v.astype(np.float64).copy() for k, v in CF._weights().items()}
    old = CF._W
    try:
        CF._W = params
        # fp32=False: the parity seam checks the MATH in float64; the
        # default fp32 path is verified by the craft oracles' text match
        t_ref, l_ref = CF.craft_maps(gray, fp32=False)
        t_32, l_32 = CF.craft_maps(gray, fp32=True)
    finally:
        CF._W = old
    t_new, l_new, _ = CC.forward_cached(params, gray)
    assert np.allclose(t_ref, t_new, atol=1e-12)
    assert np.allclose(l_ref, l_new, atol=1e-12)
    # the fp32 production path stays within float32 rounding of the math
    assert np.allclose(t_ref, t_32, atol=1e-3)
    assert np.allclose(l_ref, l_32, atol=1e-3)


def test_calibration_gradients_numeric():
    """Central differences through the shared-stem two-head net (shared
    wl double conv, shared wh head); biases jittered off ReLU kinks."""
    rng = np.random.default_rng(1)
    gray = (rng.random((16, 24)) * 255).astype(np.uint8)
    tt = (rng.random((16, 24)) > 0.85).astype(float)
    lt = (rng.random((16, 24)) > 0.9).astype(float)
    params = {k: v.astype(np.float64).copy() for k, v in CF._weights().items()}
    for k in ("b1", "bt", "bl", "bh"):
        params[k] = params[k] + rng.normal(0, 0.011, params[k].shape)
    loss, grads = CC.loss_and_grads(params, gray, tt, lt)
    assert np.isfinite(loss)
    h = 1e-6
    for name in ("w1", "b1", "wt", "bt", "wl", "bl", "wh", "bh"):
        arr = params[name]
        for fi in rng.integers(0, arr.size, size=2):
            idx = np.unravel_index(fi, arr.shape)
            p1 = {k: v.copy() for k, v in params.items()}
            p1[name][idx] += h
            p2 = {k: v.copy() for k, v in params.items()}
            p2[name][idx] -= h
            num = (CC.loss_and_grads(p1, gray, tt, lt)[0]
                   - CC.loss_and_grads(p2, gray, tt, lt)[0]) / (2 * h)
            assert abs(num - grads[name][idx]) < 5e-5 * max(1.0, abs(num)), (
                name, idx, num, grads[name][idx],
            )


def test_affinity_targets_bridge_chars_not_spaces_or_lines():
    from kiri_ocr_spark.imaging.glyphs import SCALE

    page, tt, lt = CC.craft_targets(["ab cd", "ef"], SCALE)
    assert tt.shape == page.shape == lt.shape
    # one bridge inside 'ab', one inside 'cd', one inside 'ef'
    # -> 3 connected link regions; none spanning the space or lines
    from kiri_ocr_spark.operators.components import connected_components

    n_links = len(np.unique(connected_components(lt > 0.5))) - 1
    assert n_links == 3
    # bridges sit strictly inside line rows (no vertical bleed)
    rows_with_link = np.flatnonzero((lt > 0.5).any(axis=1))
    rows_with_ink = np.flatnonzero((page < 128).any(axis=1))
    assert set(rows_with_link) <= set(rows_with_ink)


@pytest.mark.skipif(not os.path.exists(_ARTIFACT), reason="no artifact")
def test_calibrated_artifact_quality_and_pickup():
    """Fitted weights: loaded by craft_forward, text-region IoU far above
    the hand construction (0.88 vs 0.02 at calibration time), blank page
    silent, and the LINK head merges fragments at NATIVE render scale
    (the hand weights only demonstrated merging at glyph scale 4)."""
    from kiri_ocr_spark.imaging.glyphs import SCALE, render_page
    from kiri_ocr_spark.operators.db_forward import load_calibrated
    from kiri_ocr_spark.operators.heatmap_post import craft_boxes

    loaded = load_calibrated("craft_calibrated.npz")
    assert loaded is not None
    assert all((CF._W[k] == loaded[k]).all() for k in loaded)

    page, tt, _ = CC.craft_targets(["calibrated craft", "second line"], SCALE)
    t, l = CF.craft_maps(page)
    iou = ((tt > 0.5) & (t > 0.5)).sum() / max(((tt > 0.5) | (t > 0.5)).sum(), 1)
    assert iou > 0.6
    blank = np.full((64, 96), 255, dtype=np.uint8)
    tb, lb = CF.craft_maps(blank)
    assert craft_boxes(tb, lb) == []
    with_link = craft_boxes(t, l)
    without_link = craft_boxes(t, np.zeros_like(l))
    assert 0 < len(with_link) < len(without_link)
