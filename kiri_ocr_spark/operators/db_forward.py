"""Numpy DB probability-map forward (M5) — the reference's opaque ONNX
``session.run`` re-expressed as an actual convolutional forward pass.

The reference treats the DB model as a black box with a fixed I/O
contract (/root/reference/kiri_ocr/detector/db/model.py:113-160,440-470):
input = /32-sized image, gray->3-channel, ImageNet-normalized, NCHW
float32; output = a [H, W] probability map in [0, 1] at the input
resolution, fed to ``_boxes_from_bitmap``. This module honors exactly
that contract with a small DBNet-shaped net (stride-2 contrast conv ->
stride-2 smoothing conv -> 1x1 head -> bilinear x4 upsample -> sigmoid)
whose weights are HAND-CONSTRUCTED, deterministic, and genuinely
text-responsive: conv1 is an ink-contrast detector under ImageNet
normalization (dark ink maps to ~-2 per channel, paper to ~+2.4, so a
negative averaging kernel + ReLU passes ink energy only), conv2 smooths
stroke energy into region evidence, and the head calibrates a sigmoid.
Trained weights remain the one external input — plug a real exported
model's wrapper as ``heatmap_fn`` on a cluster; this forward exists so
the whole DB path (facade -> forward -> db_postprocess) runs end-to-end
on a real convnet output distribution rather than a box-blur seam.
Detection quality is accordingly coarser than a trained model's
(hand-constructed smoothing cannot match learned features, and the
fixture's nearest-neighbor /32 downscale decimates 2-px strokes), which
is exactly the honest state: architecture + I/O contract real, quality
pending weights.
"""

from __future__ import annotations

import numpy as np

from .model import im2col3x3

_IMAGENET_MEAN = np.array([0.485, 0.456, 0.406], dtype=np.float64)
_IMAGENET_STD = np.array([0.229, 0.224, 0.225], dtype=np.float64)

# head calibration: sigmoid(_HEAD_GAIN * (x - _HEAD_THRESH))
_HEAD_GAIN = 20.0
_HEAD_THRESH = 0.18


def _conv2d(x: np.ndarray, w: np.ndarray, b: np.ndarray, stride: int) -> np.ndarray:
    """Same-pad 3x3 conv; x [H, W, Cin], w [3, 3, Cin, Cout]."""
    cols = im2col3x3(x[None], (stride, stride))[0]
    oh, ow, k = cols.shape
    # one big GEMM beats numpy's per-row batching of (ow, 9C) tiles
    out = cols.reshape(-1, k) @ w.reshape(k, -1) + b
    return out.reshape(oh, ow, -1)


def _upsample_bilinear(x: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    in_h, in_w = x.shape
    ys = (np.arange(out_h) + 0.5) * in_h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * in_w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, in_h - 1)
    y1 = np.clip(y0 + 1, 0, in_h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, in_w - 1)
    x1 = np.clip(x0 + 1, 0, in_w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    # gather rows once per y-index set (x[y0]/x[y1] were materialized
    # twice each before); identical values, same arithmetic
    xy0, xy1 = x[y0], x[y1]
    top = xy0[:, x0] * (1 - wx) + xy0[:, x1] * wx
    bot = xy1[:, x0] * (1 - wx) + xy1[:, x1] * wx
    return top * (1 - wy) + bot * wy


def _weights() -> dict[str, np.ndarray]:
    """Deterministic hand-constructed weights (no RNG).

    conv1 (3 -> 8, stride 2): every output channel is the negative 3x3x3
    average — under ImageNet normalization ink pixels activate ~+2, paper
    ~-2.4, so ReLU passes ink energy only.
    conv2 (8 -> 8, stride 2): ANISOTROPIC smoothing — strong along the
    text direction, weak across it (separable [0.1, 0.8, 0.1] vertical x
    uniform horizontal taps), so stroke energy merges into line evidence
    without bleeding across the inter-line gap; ReLU is a no-op on
    non-negative input. The same horizontal-over-vertical receptive-field
    bias is what a trained DB detector learns for line-shaped text.
    head (1x1 as a 3x3 with center tap, 8 -> 1): channel average.
    """
    w1 = np.full((3, 3, 3, 8), -1.0 / 27.0)
    b1 = np.zeros(8)
    vy = np.array([0.04, 0.92, 0.04])
    w2 = np.broadcast_to(
        (vy[:, None] / 3.0)[:, :, None, None] / 8.0, (3, 3, 8, 8)
    ).copy()
    b2 = np.zeros(8)
    # conv3 (8 -> 8, stride 1 at /4): a purely HORIZONTAL smoothing pass
    # (1x3 realized in the 3x3 kernel's middle row) widens the along-line
    # receptive field so word gaps fuse into line evidence without adding
    # any vertical bleed across the inter-line gap
    w3 = np.zeros((3, 3, 8, 8))
    w3[1, :, :, :] = 1.0 / (3.0 * 8.0)
    b3 = np.zeros(8)
    wh = np.zeros((3, 3, 8, 1))
    wh[1, 1, :, 0] = 1.0 / 8.0
    bh = np.zeros(1)
    return {
        "w1": w1, "b1": b1, "w2": w2, "b2": b2,
        "w3": w3, "b3": b3, "wh": wh, "bh": bh,
    }


def load_calibrated(name: str) -> dict | None:
    """``models/<name>`` — detector weights FITTED in-sandbox by
    ``db_calibrate``/``craft_calibrate`` (pixel-BCE against the
    renderer's masks) from the hand construction, which stays the
    no-artifact fallback and the calibration init.

    Missing or unreadable artifacts warn and fall back rather than break
    the import: on a cluster the npz must be shipped to executors via
    ``spark-submit --files`` (scripts/submit.sh), and a silent fallback
    would have driver and executors disagree on the weights with no
    signal."""
    import os
    import warnings

    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "models",
        name,
    )
    try:
        with np.load(p) as z:
            return {k: z[k] for k in z.files}
    except FileNotFoundError:
        warnings.warn(
            f"{name} not found at {p}; the forward falls back to "
            "hand-constructed weights (ship the artifact with "
            "spark-submit --files, see scripts/submit.sh)",
            stacklevel=2,
        )
    except Exception as e:  # corrupt npz must not break the legacy path
        warnings.warn(
            f"{name} unreadable ({e!r}); the forward falls back to "
            "hand-constructed weights",
            stacklevel=2,
        )
    return None


# float32 inference views (the ONNX runtime the reference deploys runs
# float32), one per weight dict; calibration keeps float64
_W32: dict[int, tuple[dict, dict]] = {}


def weights_f32(W: dict) -> dict:
    """float32 view of a forward's weight dict, cast once per dict
    object. Callers pass their module's live ``_W``, so a rebound ``_W``
    (the parity tests' seam) gets a fresh cast."""
    hit = _W32.get(id(W))
    if hit is None or hit[0] is not W:
        hit = _W32[id(W)] = (W, {k: v.astype(np.float32) for k, v in W.items()})
    return hit[1]


_W = load_calibrated("db_calibrated.npz") or _weights()


def preprocess(resized_gray: np.ndarray) -> np.ndarray:
    """The reference's ``_normalize`` (db/model.py:150-160) for a gray
    page: gray -> 3 channels, /255, ImageNet mean/std, NCHW float32."""
    rgb = np.repeat(resized_gray[:, :, None].astype(np.float64) / 255.0, 3, 2)
    norm = (rgb - _IMAGENET_MEAN) / _IMAGENET_STD
    return norm.transpose(2, 0, 1)[None].astype(np.float32)


def forward(input_tensor: np.ndarray, fp32: bool = True) -> np.ndarray:
    """[1, 3, H, W] normalized input -> [H, W] probability map in [0, 1]
    (the ONNX session's output contract, db/model.py:449-461).

    fp32 (default) matches the deployed ONNX runtime's dtype and ~2x's
    the im2col GEMMs; fp32=False runs float64 for exact-parity checks
    against db_calibrate.forward_cached (the law-test seam)."""
    from .blas import pin_blas_threads

    pin_blas_threads(1)  # same pin as db_prob_map: an unpinned direct
    # call must not produce different GEMM bits than the facade path
    W = weights_f32(_W) if fp32 else _W
    dt = np.float32 if fp32 else np.float64
    x = input_tensor[0].transpose(1, 2, 0).astype(dt)  # HWC
    h, w = x.shape[:2]
    x = np.maximum(_conv2d(x, W["w1"], W["b1"], stride=2), 0.0)
    x = np.maximum(_conv2d(x, W["w2"], W["b2"], stride=2), 0.0)
    x = np.maximum(_conv2d(x, W["w3"], W["b3"], stride=1), 0.0)
    x = np.maximum(_conv2d(x, W["w3"], W["b3"], stride=1), 0.0)
    x = _conv2d(x, W["wh"], W["bh"], stride=1)[..., 0].astype(np.float64)
    up = _upsample_bilinear(x, h, w)
    return 1.0 / (1.0 + np.exp(-_HEAD_GAIN * (up - _HEAD_THRESH)))


def db_prob_map(resized_gray: np.ndarray) -> np.ndarray:
    """facade ``heatmap_fn`` entry: resized gray page -> prob map."""
    from .blas import pin_blas_threads

    pin_blas_threads(1)  # 32 workers x 32 default BLAS threads thrashes
    return forward(preprocess(resized_gray))

