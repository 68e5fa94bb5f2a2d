"""In-sandbox calibration of the CRAFT forward (M6) — the companion of
``db_calibrate`` for the two-head region+affinity net.

Supervision mirrors what a trained CRAFT learns
(/root/reference/kiri_ocr/detector/craft/model.py:120-292): the TEXT
head's target is the character-region mask (dilated ink), the LINK
head's target is the affinity between ADJACENT characters — horizontal
bridge boxes over the renderer's CHAR_GAP columns inside each word,
never across spaces or lines. Both are computed exactly from the
renderer's known glyph layout. Weights fit by pixel-BCE from the
hand-constructed init; ``craft_forward`` auto-loads
``models/craft_calibrated.npz`` when present.
"""

from __future__ import annotations

import numpy as np

from .craft_forward import _LINK_GAIN, _LINK_THRESH, _TEXT_GAIN, _TEXT_THRESH
from .craft_forward import _weights as _hand_weights
from .db_calibrate import _head_bwd, _upsample_bwd, _upsample_fwd, deck_lines
from .db_forward import _conv2d
from .train import _conv_bwd, _conv_fwd, fit


def _flat(w4: np.ndarray) -> np.ndarray:
    return w4.reshape(-1, w4.shape[-1])


def forward_cached(params: dict, gray: np.ndarray):
    """craft_forward.craft_maps in float64 with caches."""
    h, w = gray.shape
    x = (gray.astype(np.float64) / 255.0)[:, :, None][None]
    e, c_e = _conv_fwd(x, _flat(params["w1"]), params["b1"], (2, 2))
    t_feat, c_t = _conv_fwd(e, _flat(params["wt"]), params["bt"], (1, 1))
    l1, c_l1 = _conv_fwd(e, _flat(params["wl"]), params["bl"], (1, 1))
    l2, c_l2 = _conv_fwd(l1, _flat(params["wl"]), params["bl"], (1, 1))
    # shared ReLU-free head (craft_forward applies wh to both branches)
    t_out = _conv2d(t_feat[0], params["wh"], params["bh"], stride=1)[..., 0]
    l_out = _conv2d(l2[0], params["wh"], params["bh"], stride=1)[..., 0]
    text = 1.0 / (1.0 + np.exp(-_TEXT_GAIN * (_upsample_fwd(t_out, h, w) - _TEXT_THRESH)))
    link = 1.0 / (1.0 + np.exp(-_LINK_GAIN * (_upsample_fwd(l_out, h, w) - _LINK_THRESH)))
    cache = (c_e, c_t, c_l1, c_l2, t_feat[0], l2[0], t_out.shape, l_out.shape)
    return text, link, cache


def loss_and_grads(params: dict, gray: np.ndarray,
                   text_target: np.ndarray, link_target: np.ndarray,
                   pos_weight: float = 4.0):
    text, link, cache = forward_cached(params, gray)
    c_e, c_t, c_l1, c_l2, t_feat, l2_feat, t_shape, l_shape = cache
    grads = {k: np.zeros_like(v) for k, v in params.items()}
    eps = 1e-9
    loss = 0.0
    douts = []
    for p, tgt, gain in ((text, text_target, _TEXT_GAIN),
                         (link, link_target, _LINK_GAIN)):
        wmap = np.where(tgt > 0.5, pos_weight, 1.0)
        n = wmap.sum()
        loss += float(
            -(wmap * (tgt * np.log(p + eps)
                      + (1 - tgt) * np.log(1 - p + eps))).sum() / n
        )
        douts.append(gain * wmap * (p - tgt) / n)

    dt_out = _upsample_bwd(douts[0], t_shape[0], t_shape[1])
    dl_out = _upsample_bwd(douts[1], l_shape[0], l_shape[1])
    dtf, dwh_t, dbh_t = _head_bwd(dt_out, t_feat, params["wh"])
    dlf, dwh_l, dbh_l = _head_bwd(dl_out, l2_feat, params["wh"])
    grads["wh"] += dwh_t + dwh_l  # shared head
    grads["bh"] += dbh_t + dbh_l

    de_t, dwt, dbt = _conv_bwd(dtf[None], c_t)
    grads["wt"] += dwt.reshape(params["wt"].shape)
    grads["bt"] += dbt
    dl1, dwl2, dbl2 = _conv_bwd(dlf[None], c_l2)
    de_l, dwl1, dbl1 = _conv_bwd(dl1, c_l1)
    grads["wl"] += (dwl2 + dwl1).reshape(params["wl"].shape)  # shared wl
    grads["bl"] += dbl2 + dbl1
    _, dw1, db1 = _conv_bwd(de_t + de_l, c_e)
    grads["w1"] += dw1.reshape(params["w1"].shape)
    grads["b1"] += db1
    return loss, grads


def craft_targets(lines: list[str], scale: int):
    """(page, text_target, link_target) from the renderer's layout:
    text = dilated ink (character regions); link = CHAR_GAP bridge boxes
    between adjacent glyphs within a word (the CRAFT affinity)."""
    from ..imaging.glyphs import (
        CHAR_GAP,
        GLYPH_H,
        GLYPH_W,
        LINE_GAP,
        PAD_X,
        PAD_Y,
        SPACE_GAP,
        render_page,
    )
    from .heatmap_post import _dilate_square

    page = render_page(lines, scale=scale)
    text_target = _dilate_square(page < 128, 3).astype(np.float64)
    link_target = np.zeros(page.shape, dtype=np.float64)
    for j, line in enumerate(lines):
        y0 = PAD_Y + scale * j * (GLYPH_H + LINE_GAP)
        y1 = y0 + scale * GLYPH_H
        x = 0
        prev_glyph_end = None
        for ch in line:
            if ch == " ":
                x += SPACE_GAP
                prev_glyph_end = None  # affinity never crosses a space
                continue
            if prev_glyph_end is not None:
                gx0 = PAD_X + scale * prev_glyph_end
                gx1 = PAD_X + scale * (prev_glyph_end + CHAR_GAP)
                # widen one px each side so the bridge overlaps both glyphs
                link_target[y0:y1, max(gx0 - scale, 0) : gx1 + scale] = 1.0
                x += CHAR_GAP
            x += GLYPH_W
            prev_glyph_end = x
    return page, text_target, link_target


def calibration_pages(sf_dir: str = "/root/testdata/sf0.001",
                      n_docs: int = 20):
    from ..imaging.glyphs import SCALE

    out = [craft_targets(lines, SCALE) for lines in deck_lines(sf_dir, n_docs)]
    # contract anchors
    blank = np.full((64, 96), 255, dtype=np.uint8)
    dark = np.zeros((64, 96), dtype=np.uint8)
    out.append((blank, np.zeros(blank.shape), np.zeros(blank.shape)))
    out.append((dark, np.ones(dark.shape), np.zeros(dark.shape)))
    return out


def calibrate(epochs: int = 40, lr: float = 2e-3, seed: int = 13,
              log=print) -> tuple[dict, list[float]]:
    """Fit from the hand init; gentle lr for the same base-rate-saddle
    reason as db_calibrate."""
    return fit(_hand_weights(), calibration_pages(), loss_and_grads, epochs,
               lr, seed, log, "craft-calibrate")
