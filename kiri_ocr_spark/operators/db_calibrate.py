"""In-sandbox calibration of the DB detector forward (M5).

``db_forward`` ships hand-constructed weights honoring the reference's
ONNX I/O contract; this module FITS those same parameters by gradient
descent on rendered pages — pixel-wise BCE between the emitted
probability map and the renderer's known ink mask (the supervision a
trained DBNet gets from its shrink-mask labels, reference
detector/db/model.py:440-470 consumes exactly this map shape). Weights
save to ``models/db_calibrated.npz``; ``db_forward`` picks the artifact
up automatically when present, so the facade's default DB path runs on
FITTED weights while the hand construction remains the no-artifact
fallback.

Backprop reuses the train.py conv machinery; the bilinear upsample
backward is the exact transpose of ``db_forward._upsample_bilinear``.
Deterministic end to end (seeded batch order, fixed data)."""

from __future__ import annotations

import numpy as np

from .db_forward import _HEAD_GAIN, _HEAD_THRESH, _conv2d, _weights, preprocess
from .model import im2col3x3
from .train import _conv_bwd, _conv_fwd, fit

_STRIDES = {"w1": 2, "w2": 2, "w3": 1, "wh": 1}


def _upsample_fwd(x: np.ndarray, out_h: int, out_w: int):
    from .db_forward import _upsample_bilinear

    return _upsample_bilinear(x, out_h, out_w)


def _upsample_bwd(dy: np.ndarray, in_h: int, in_w: int) -> np.ndarray:
    """Transpose of _upsample_bilinear's linear map."""
    out_h, out_w = dy.shape
    ys = (np.arange(out_h) + 0.5) * in_h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * in_w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, in_h - 1)
    y1 = np.clip(y0 + 1, 0, in_h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, in_w - 1)
    x1 = np.clip(x0 + 1, 0, in_w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    dx = np.zeros((in_h, in_w))
    np.add.at(dx, (y0[:, None], x0[None, :]), dy * (1 - wy) * (1 - wx))
    np.add.at(dx, (y0[:, None], x1[None, :]), dy * (1 - wy) * wx)
    np.add.at(dx, (y1[:, None], x0[None, :]), dy * wy * (1 - wx))
    np.add.at(dx, (y1[:, None], x1[None, :]), dy * wy * wx)
    return dx


def forward_cached(params: dict, x_hwc: np.ndarray):
    """db_forward.forward in float64 with caches for backprop.
    x_hwc: [H, W, 3] ImageNet-normalized; returns (prob_map, cache)."""
    h, w = x_hwc.shape[:2]
    x = x_hwc[None]
    caches = []
    # db_forward stores conv kernels [3, 3, Cin, Cout]; the train.py conv
    # machinery takes them flattened [9*Cin, Cout] (same math)
    for name in ("w1", "w2"):
        w4 = params[name]
        x, c = _conv_fwd(x, w4.reshape(-1, w4.shape[-1]),
                         params["b" + name[1:]],
                         (_STRIDES[name], _STRIDES[name]))
        caches.append((name, c))
    for _ in range(2):  # conv3 applied twice with SHARED weights
        w4 = params["w3"]
        x, c = _conv_fwd(x, w4.reshape(-1, w4.shape[-1]), params["b3"], (1, 1))
        caches.append(("w3", c))
    # head: linear conv (no ReLU) — _conv_fwd applies ReLU, so the head
    # runs through db_forward's ReLU-free conv
    head_in = x[0]
    head_out = _conv2d(head_in, params["wh"], params["bh"], stride=1)[..., 0]
    up = _upsample_fwd(head_out, h, w)
    p = 1.0 / (1.0 + np.exp(-_HEAD_GAIN * (up - _HEAD_THRESH)))
    return p, (caches, head_in, head_out.shape, p)


def _head_bwd(dhead_out: np.ndarray, head_in: np.ndarray, wh: np.ndarray):
    """Backward of the ReLU-free 3x3 head conv (stride 1, same-pad):
    _conv_bwd with every unit active."""
    cache = (im2col3x3(head_in[None], (1, 1)), wh.reshape(-1, 1), True,
             (1,) + head_in.shape, (1, 1))
    dx, dwh, dbh = _conv_bwd(dhead_out[None, :, :, None], cache)
    return dx[0], dwh.reshape(wh.shape), dbh


def loss_and_grads(params: dict, x_hwc: np.ndarray, target: np.ndarray,
                   pos_weight: float = 4.0):
    """Pixel-BCE with positive-class weighting (ink is ~5-10% of a page)
    against the sigmoid head; returns (loss, grads dict)."""
    p, (caches, head_in, head_shape, _) = forward_cached(params, x_hwc)
    eps = 1e-9
    wmap = np.where(target > 0.5, pos_weight, 1.0)
    n = wmap.sum()
    loss = float(
        -(wmap * (target * np.log(p + eps)
                  + (1 - target) * np.log(1 - p + eps))).sum() / n
    )
    dup = _HEAD_GAIN * wmap * (p - target) / n
    dhead_out = _upsample_bwd(dup, head_shape[0], head_shape[1])
    grads = {k: np.zeros_like(v) for k, v in params.items()}
    dx, dwh, dbh = _head_bwd(dhead_out, head_in, params["wh"])
    grads["wh"] += dwh
    grads["bh"] += dbh
    dx = dx[None]
    for name, c in reversed(caches):
        dx, dk, db = _conv_bwd(dx, c)
        grads[name] += dk.reshape(params[name].shape)
        grads["b" + name[1:]] += db
    return loss, grads


def deck_lines(sf_dir: str, n_docs: int) -> list[list[str]]:
    """The calibration deck's page texts, shared by both detector
    calibrators: the first ``n_docs`` documents by doc_id, each one page
    of its first three tokens — one line on even doc_ids, two on odd."""
    from ..fixtures import fixture_docs

    out = []
    for doc_id, toks in fixture_docs(sf_dir, n_docs):
        w = [toks[i % len(toks)] for i in range(3)]
        out.append([" ".join(w)] if doc_id % 2 == 0 else [w[0] + " " + w[1], w[2]])
    return out


def calibration_pages(sf_dir: str = "/root/testdata/sf0.001",
                      n_docs: int = 24):
    """(normalized input, ink-mask target) pairs: fixture-style line
    pages at the facade's /32 input geometry, plus the contract anchors
    (blank page -> all zeros, all-ink page -> all ones)."""
    from ..imaging.glyphs import SCALE, render_page
    from .heatmap_post import _dilate_square, resize_to_multiple_of_32

    pages = [render_page(lines, scale=SCALE) for lines in deck_lines(sf_dir, n_docs)]
    pages.append(np.full((64, 96), 255, dtype=np.uint8))  # blank anchor
    pages.append(np.zeros((64, 96), dtype=np.uint8))      # all-ink anchor
    out = []
    for page in pages:
        resized, _, _ = resize_to_multiple_of_32(page)
        x = preprocess(resized)[0].transpose(1, 2, 0).astype(np.float64)
        # DBNet supervision is the text REGION mask, not per-stroke ink
        # (db/model.py shrink-polygon labels): dilate strokes so words
        # fuse into solid regions — representable at the net's /4
        # resolution, where a 2-px stroke mask is not
        target = _dilate_square((resized < 128), 5).astype(np.float64)
        out.append((x, target))
    return out


def calibrate(epochs: int = 40, lr: float = 2e-3, seed: int = 11,
              log=print) -> tuple[dict, list[float]]:
    """Fit the DB forward's parameters from the hand-constructed init;
    returns (params, per-epoch mean loss). lr is deliberately gentle:
    an aggressive rate (2e-2) measurably destroyed the structured init
    and collapsed the map to the constant class prior — the same
    base-rate saddle the recognizer's CTC training hits from random
    init."""
    return fit(_weights(), calibration_pages(), loss_and_grads, epochs, lr,
               seed, log, "db-calibrate")
