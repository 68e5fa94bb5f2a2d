"""Numpy CRAFT forward (M6) — the reference's torch CRAFT net re-expressed
as an actual two-head convolutional forward.

Contract mirrored (/root/reference/kiri_ocr/detector/craft/model.py:120-292):
input image -> region ("text") score map + affinity ("link") score map,
both consumed by getDetBoxes_core (our ``heatmap_post.craft_boxes``). The
facade's craft path passes the full-resolution gray page and expects
same-shape maps, so this forward emits at input resolution.

Weights are HAND-CONSTRUCTED and deterministic, like ``db_forward``:
the text head responds to local ink density (character regions), the
link head to ink presence bridged HORIZONTALLY over inter-character gaps
(the affinity a trained CRAFT learns between adjacent characters) while
staying dark across inter-line gaps. Trained weights remain the one
external input; quality is coarser than a trained model's, which is the
honest state — architecture-shaped output distribution, real conv stack,
weights pending.
"""

from __future__ import annotations

import numpy as np

from .db_forward import _conv2d, _upsample_bilinear, load_calibrated, weights_f32

_TEXT_GAIN, _TEXT_THRESH = 14.0, 0.22
_LINK_GAIN, _LINK_THRESH = 10.0, 0.16


def _weights() -> dict[str, np.ndarray]:
    # conv1 (1 -> 4, stride 2): negative average = ink energy (pages are
    # dark-on-light after invert_if_dark), ReLU passes ink only
    w1 = np.full((3, 3, 1, 4), -1.0 / 9.0)
    b1 = np.full(4, 0.5)  # gray in [0,1]: paper ~1 -> -1+0.5<0, ink ~0 -> +0.5
    # text head: near-isotropic smoothing of ink energy (character blobs)
    wt = np.broadcast_to(
        (np.array([0.15, 0.7, 0.15])[:, None] / 3.0)[:, :, None, None] / 4.0,
        (3, 3, 4, 4),
    ).copy()
    bt = np.zeros(4)
    # link head: strongly horizontal smoothing — bridges the 1-2 unit
    # inter-character gap along the line, never the inter-line gap
    wl = np.zeros((3, 3, 4, 4))
    wl[1, :, :, :] = 1.0 / (3.0 * 4.0)
    bl = np.zeros(4)
    wh = np.zeros((3, 3, 4, 1))
    wh[1, 1, :, 0] = 1.0 / 4.0
    bh = np.zeros(1)
    return {"w1": w1, "b1": b1, "wt": wt, "bt": bt, "wl": wl, "bl": bl,
            "wh": wh, "bh": bh}


_W = load_calibrated("craft_calibrated.npz") or _weights()


def craft_maps(
    gray: np.ndarray, fp32: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """facade ``heatmap_fn`` entry for method='craft': gray page ->
    (textmap, linkmap), both same shape as the input, values in [0, 1].

    fp32 (default) is the deployed-runtime dtype; fp32=False runs
    float64 for exact-parity checks against craft_calibrate's
    forward_cached (the law-test seam)."""
    from .blas import pin_blas_threads

    pin_blas_threads(1)  # 32 workers x 32 default BLAS threads thrashes
    h, w = gray.shape
    W = weights_f32(_W) if fp32 else _W
    dt = np.float32 if fp32 else np.float64
    x = (gray.astype(dt) / 255.0)[:, :, None]
    e = np.maximum(_conv2d(x, W["w1"], W["b1"], stride=2), 0.0)
    t = np.maximum(_conv2d(e, W["wt"], W["bt"], stride=1), 0.0)
    t = _conv2d(t, W["wh"], W["bh"], stride=1)[..., 0].astype(np.float64)
    lk = np.maximum(_conv2d(e, W["wl"], W["bl"], stride=1), 0.0)
    lk = np.maximum(_conv2d(lk, W["wl"], W["bl"], stride=1), 0.0)
    lk = _conv2d(lk, W["wh"], W["bh"], stride=1)[..., 0].astype(np.float64)
    text = 1.0 / (1.0 + np.exp(-_TEXT_GAIN * (_upsample_bilinear(t, h, w) - _TEXT_THRESH)))
    link = 1.0 / (1.0 + np.exp(-_LINK_GAIN * (_upsample_bilinear(lk, h, w) - _LINK_THRESH)))
    return text, link

