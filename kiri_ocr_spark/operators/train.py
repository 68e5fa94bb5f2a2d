"""In-sandbox training for the numpy recognizer (the reference's
training loop re-expressed without torch).

The reference trains its transformer with CTC + cross-entropy losses
(/root/reference/kiri_ocr/training.py:758-777 CTC loss over the encoder
head, :820-860 teacher-forced decoder CE); this module reproduces exactly
that objective with hand-written numpy backprop over the SAME forward
math as ``model.NumpyKiriModel`` — so trained weights drop into the
existing inference paths (ctc_greedy / greedy_decode / beam_decode) and
round-trip through the S3 loader (save_model/load_model) unchanged.

Scope: everything trains end to end — the conv stem (im2col
forward/backward, ``train_stem=True``, gradients law-checked against
central differences in tests/test_train.py), encoder layers + final LN
+ CTC head, decoder embedding + decoder layers + LM head. The stem MUST
train on this corpus: its seed content signal is ~7x below the additive
positional encoding, too weak for CTC to localize characters (the
reference also trains end to end, training.py:601-1000). Training data is
fixture-rendered line crops (the same renderer the oracle pipeline
uses), split by doc hash into train/held-out; CER on the held-out split
is the reported metric (scripts/train_model.py + the bench block).

Everything is deterministic: seeded init (the model's own), fixed batch
order from a seeded shuffle, no dropout.
"""

from __future__ import annotations

import numpy as np

from .model import (
    CFG,
    NumpyKiriModel,
    decode_crops_memo,
    im2col3x3,
    log_softmax,
    pos_enc_1d,
    softmax,
    state_dict,
)

_NEG = -1e30  # log-space -inf that survives arithmetic


# --------------------------------------------------------------------------
# primitive forward/backward pairs (caches are plain tuples)
# --------------------------------------------------------------------------


def _linear_fwd(x, w, b):
    return x @ w + b, (x, w)


def _linear_bwd(dy, cache):
    x, w = cache
    dx = dy @ w.T
    dw = x.reshape(-1, x.shape[-1]).T @ dy.reshape(-1, dy.shape[-1])
    db = dy.reshape(-1, dy.shape[-1]).sum(axis=0)
    return dx, dw, db


def _relu_fwd(x):
    y = np.maximum(x, 0.0)
    return y, (x,)


def _relu_bwd(dy, cache):
    (x,) = cache
    return dy * (x > 0.0)


def _ln_fwd(x, g, b, eps=1e-5):
    """Matches model.layer_norm exactly (same eps, biased variance)."""
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    inv = 1.0 / np.sqrt(var + eps)
    xhat = (x - mu) * inv
    return xhat * g + b, (xhat, inv, g)


def _ln_bwd(dy, cache):
    xhat, inv, g = cache
    D = xhat.shape[-1]
    dg = (dy * xhat).reshape(-1, D).sum(axis=0)
    db = dy.reshape(-1, D).sum(axis=0)
    dxh = dy * g
    dx = inv * (
        dxh
        - dxh.mean(axis=-1, keepdims=True)
        - xhat * (dxh * xhat).mean(axis=-1, keepdims=True)
    )
    return dx, dg, db


def _mha_fwd(q_in, kv_in, n_heads, wq, wk, wv, wo, mask=None):
    """Matches model._mha exactly; returns (y, cache)."""
    B, Tq, D = q_in.shape
    Tk = kv_in.shape[1]
    dh = D // n_heads

    def split(x, w):
        return (x @ w).reshape(B, -1, n_heads, dh).transpose(0, 2, 1, 3)

    qh, kh, vh = split(q_in, wq), split(kv_in, wk), split(kv_in, wv)
    att = qh @ kh.transpose(0, 1, 3, 2) / np.sqrt(dh)
    if mask is not None:
        att = att + mask
    A = softmax(att)
    ctx = A @ vh  # [B, H, Tq, dh]
    ctx_flat = ctx.transpose(0, 2, 1, 3).reshape(B, Tq, D)
    y = ctx_flat @ wo
    return y, (q_in, kv_in, qh, kh, vh, A, ctx_flat, wq, wk, wv, wo, n_heads)


def _mha_bwd(dy, cache):
    q_in, kv_in, qh, kh, vh, A, ctx_flat, wq, wk, wv, wo, n_heads = cache
    B, Tq, D = q_in.shape
    dh = D // n_heads
    dwo = ctx_flat.reshape(-1, D).T @ dy.reshape(-1, D)
    dctx_flat = dy @ wo.T
    dctx = dctx_flat.reshape(B, Tq, n_heads, dh).transpose(0, 2, 1, 3)
    dA = dctx @ vh.transpose(0, 1, 3, 2)
    dvh = A.transpose(0, 1, 3, 2) @ dctx
    # softmax backward (rowwise over the last axis)
    datt = A * (dA - (dA * A).sum(axis=-1, keepdims=True))
    datt = datt / np.sqrt(dh)
    dqh = datt @ kh
    dkh = datt.transpose(0, 1, 3, 2) @ qh

    def unsplit(xh):
        return xh.transpose(0, 2, 1, 3).reshape(B, -1, D)

    dq_flat, dk_flat, dv_flat = unsplit(dqh), unsplit(dkh), unsplit(dvh)
    dwq = q_in.reshape(-1, D).T @ dq_flat.reshape(-1, D)
    dwk = kv_in.reshape(-1, D).T @ dk_flat.reshape(-1, D)
    dwv = kv_in.reshape(-1, D).T @ dv_flat.reshape(-1, D)
    dq_in = dq_flat @ wq.T
    dkv_in = dk_flat @ wk.T + dv_flat @ wv.T
    return dq_in, dkv_in, dwq, dwk, dwv, dwo


# --------------------------------------------------------------------------
# encoder / decoder stacks over a flat params dict (state_dict key names)
# --------------------------------------------------------------------------

_ENC_KEYS = ("wq", "wk", "wv", "wo", "g1", "b1", "w1", "bf1", "w2", "bf2",
             "g2", "b2")
_DEC_KEYS = ("sq", "sk", "sv", "so", "g1", "b1", "cq", "ck", "cv", "co",
             "g2", "b2", "w1", "bf1", "w2", "bf2", "g3", "b3")
_STEM_STRIDES = ((2, 2), (2, 2), (2, 1))  # model.NumpyKiriModel's stem


def _conv_fwd(x, k, b, stride):
    """Same-pad 3x3 strided conv + ReLU; x [B, H, W, Cin], k [9*Cin, Cout]."""
    cols = im2col3x3(x, stride)
    pre = cols @ k + b
    y = np.maximum(pre, 0.0)
    return y, (cols, k, pre > 0, x.shape, stride)


def _conv_bwd(dy, cache):
    cols, k, relu_mask, in_shape, stride = cache
    sy, sx = stride
    B, H, W, C = in_shape
    oh, ow = cols.shape[1], cols.shape[2]
    d = dy * relu_mask
    d2 = d.reshape(-1, d.shape[-1])
    dk = cols.reshape(-1, cols.shape[-1]).T @ d2
    db = d2.sum(axis=0)
    dcols = d @ k.T  # [B, oh, ow, 9C]
    dxp = np.zeros((B, H + 2, W + 2, C))
    for dy_ in range(3):
        for dx_ in range(3):
            # ys+dy_ is the strided slice dy_ : dy_+oh*sy : sy (a view),
            # so += accumulates without collisions inside one (dy_, dx_)
            dxp[:, dy_ : dy_ + oh * sy : sy, dx_ : dx_ + ow * sx : sx, :] += (
                dcols[..., (dy_ * 3 + dx_) * C : (dy_ * 3 + dx_ + 1) * C]
            )
    return dxp[:, 1 : H + 1, 1 : W + 1, :], dk, db


def stem_fwd(params: dict, images: np.ndarray):
    """Trainable stem: normalize -> 3 convs -> 2D pos-enc -> height pool.
    Returns (mem0 [B, T, D], cache). Matches model.encode's head."""
    from .model import pos_enc_2d

    x = images.astype(np.float64) / 255.0
    x = (x - 0.5) / 0.5
    x = x[..., None]
    caches = []
    for i in range(3):
        x, c = _conv_fwd(x, params[f"stem.{i}.k"], params[f"stem.{i}.b"],
                         _STEM_STRIDES[i])
        caches.append(c)
    B, H, W, D = x.shape
    x = x + pos_enc_2d(H, W, D)[None]
    return x.mean(axis=1), (caches, (B, H, W, D))


def stem_bwd(dmem0, cache, grads: dict) -> None:
    caches, (B, H, W, D) = cache
    dx = np.broadcast_to(dmem0[:, None, :, :] / H, (B, H, W, D)).copy()
    for i in reversed(range(3)):
        dx, dk, db = _conv_bwd(dx, caches[i])
        grads[f"stem.{i}.k"] += dk
        grads[f"stem.{i}.b"] += db


def stem_forward(model: NumpyKiriModel, images: np.ndarray) -> np.ndarray:
    """Frozen-stem variant of model.encode's head: normalize -> conv stem
    -> 2D pos-enc -> height pool. Returns mem0 [B, T, D]."""
    from .model import pos_enc_2d

    x = images.astype(np.float64) / 255.0
    x = (x - 0.5) / 0.5
    x = x[..., None]
    for layer in model.convs:
        x = model._conv(x, layer)
    B, H, W, D = x.shape
    x = x + pos_enc_2d(H, W, D)[None]
    return x.mean(axis=1)


def enc_fwd(params: dict, n_layers: int, n_heads: int, mem0: np.ndarray):
    """Encoder layers + final LN over mem0; matches model.encode's tail."""
    caches = []
    mem = mem0
    for i in range(n_layers):
        p = {k: params[f"enc.layers.{i}.{k}"] for k in _ENC_KEYS}
        a, c_mha = _mha_fwd(mem, mem, n_heads, p["wq"], p["wk"], p["wv"], p["wo"])
        r1, c_ln1 = _ln_fwd(mem + a, p["g1"], p["b1"])
        h1, c_l1 = _linear_fwd(r1, p["w1"], p["bf1"])
        h1r, c_relu = _relu_fwd(h1)
        ff, c_l2 = _linear_fwd(h1r, p["w2"], p["bf2"])
        r2, c_ln2 = _ln_fwd(r1 + ff, p["g2"], p["b2"])
        caches.append((c_mha, c_ln1, c_l1, c_relu, c_l2, c_ln2))
        mem = r2
    out, c_final = _ln_fwd(mem, params["enc_ln.g"], params["enc_ln.b"])
    return out, (caches, c_final, n_layers)


def enc_bwd(dout, cache, grads: dict):
    caches, c_final, n_layers = cache
    dmem, dg, db = _ln_bwd(dout, c_final)
    grads["enc_ln.g"] += dg
    grads["enc_ln.b"] += db
    for i in reversed(range(n_layers)):
        c_mha, c_ln1, c_l1, c_relu, c_l2, c_ln2 = caches[i]
        pre = f"enc.layers.{i}."
        dr2_in, dg2, db2 = _ln_bwd(dmem, c_ln2)
        grads[pre + "g2"] += dg2
        grads[pre + "b2"] += db2
        dff = dr2_in
        dh1r, dw2, dbf2 = _linear_bwd(dff, c_l2)
        grads[pre + "w2"] += dw2
        grads[pre + "bf2"] += dbf2
        dh1 = _relu_bwd(dh1r, c_relu)
        dr1_ff, dw1, dbf1 = _linear_bwd(dh1, c_l1)
        grads[pre + "w1"] += dw1
        grads[pre + "bf1"] += dbf1
        dr1 = dr2_in + dr1_ff
        dln1_in, dg1, db1 = _ln_bwd(dr1, c_ln1)
        grads[pre + "g1"] += dg1
        grads[pre + "b1"] += db1
        da = dln1_in
        dq_in, dkv_in, dwq, dwk, dwv, dwo = _mha_bwd(da, c_mha)
        grads[pre + "wq"] += dwq
        grads[pre + "wk"] += dwk
        grads[pre + "wv"] += dwv
        grads[pre + "wo"] += dwo
        dmem = dln1_in + dq_in + dkv_in
    return dmem


def dec_fwd(params: dict, n_layers: int, n_heads: int,
            dec_ids: np.ndarray, mem: np.ndarray):
    """Teacher-forced decoder forward; matches model._decode_step."""
    B, L = dec_ids.shape
    D = mem.shape[-1]
    emb = params["dec_emb.weight"]
    x = emb[dec_ids] + pos_enc_1d(L, D)[None]
    causal = np.triu(np.full((L, L), -1e9), k=1)[None, None]
    caches = []
    for i in range(n_layers):
        p = {k: params[f"dec.layers.{i}.{k}"] for k in _DEC_KEYS}
        a, c_s = _mha_fwd(x, x, n_heads, p["sq"], p["sk"], p["sv"], p["so"],
                          mask=causal)
        r1, c_ln1 = _ln_fwd(x + a, p["g1"], p["b1"])
        c, c_x = _mha_fwd(r1, mem, n_heads, p["cq"], p["ck"], p["cv"], p["co"])
        r2, c_ln2 = _ln_fwd(r1 + c, p["g2"], p["b2"])
        h1, c_l1 = _linear_fwd(r2, p["w1"], p["bf1"])
        h1r, c_relu = _relu_fwd(h1)
        ff, c_l2 = _linear_fwd(h1r, p["w2"], p["bf2"])
        r3, c_ln3 = _ln_fwd(r2 + ff, p["g3"], p["b3"])
        caches.append((c_s, c_ln1, c_x, c_ln2, c_l1, c_relu, c_l2, c_ln3))
        x = r3
    logits, c_head = _linear_fwd(x, params["lm_head.w"], params["lm_head.b"])
    return logits, (caches, c_head, dec_ids, n_layers)


def dec_bwd(dlogits, cache, grads: dict):
    """Returns dmem (gradient into the encoder memory)."""
    caches, c_head, dec_ids, n_layers = cache
    dx, dw, db = _linear_bwd(dlogits, c_head)
    grads["lm_head.w"] += dw
    grads["lm_head.b"] += db
    dmem = None
    for i in reversed(range(n_layers)):
        c_s, c_ln1, c_x, c_ln2, c_l1, c_relu, c_l2, c_ln3 = caches[i]
        pre = f"dec.layers.{i}."
        dr3_in, dg3, db3 = _ln_bwd(dx, c_ln3)
        grads[pre + "g3"] += dg3
        grads[pre + "b3"] += db3
        dh1r, dw2, dbf2 = _linear_bwd(dr3_in, c_l2)
        grads[pre + "w2"] += dw2
        grads[pre + "bf2"] += dbf2
        dh1 = _relu_bwd(dh1r, c_relu)
        dr2_ff, dw1, dbf1 = _linear_bwd(dh1, c_l1)
        grads[pre + "w1"] += dw1
        grads[pre + "bf1"] += dbf1
        dr2 = dr3_in + dr2_ff
        dln2_in, dg2, db2 = _ln_bwd(dr2, c_ln2)
        grads[pre + "g2"] += dg2
        grads[pre + "b2"] += db2
        dq_in, dkv_mem, dcq, dck, dcv, dco = _mha_bwd(dln2_in, c_x)
        grads[pre + "cq"] += dcq
        grads[pre + "ck"] += dck
        grads[pre + "cv"] += dcv
        grads[pre + "co"] += dco
        dmem = dkv_mem if dmem is None else dmem + dkv_mem
        dr1 = dln2_in + dq_in
        dln1_in, dg1, db1 = _ln_bwd(dr1, c_ln1)
        grads[pre + "g1"] += dg1
        grads[pre + "b1"] += db1
        dq_s, dkv_s, dsq, dsk, dsv, dso = _mha_bwd(dln1_in, c_s)
        grads[pre + "sq"] += dsq
        grads[pre + "sk"] += dsk
        grads[pre + "sv"] += dsv
        grads[pre + "so"] += dso
        dx = dln1_in + dq_s + dkv_s
    # embedding gradient (pos-enc is additive constant)
    demb = grads["dec_emb.weight"]
    np.add.at(demb, dec_ids.reshape(-1), dx.reshape(-1, dx.shape[-1]))
    return dmem


# --------------------------------------------------------------------------
# losses
# --------------------------------------------------------------------------


def _logsumexp2(a, b):
    m = np.maximum(a, b)
    return m + np.log(np.exp(a - m) + np.exp(b - m))


def ctc_loss_grad(logits: np.ndarray, target: np.ndarray):
    """CTC negative log-likelihood + gradient wrt logits for ONE sample.

    logits: [T, V] (blank id 0, per CharTokenizer); target: [L] ctc ids.
    Log-space forward-backward (Graves 2006, the loss the reference's
    training.py:758-777 calls into); dlogits = softmax - path posterior.
    """
    T, V = logits.shape
    logp = log_softmax(logits, axis=-1)
    L = len(target)
    S = 2 * L + 1
    ext = np.zeros(S, dtype=np.int64)
    ext[1::2] = target
    allow_skip = np.zeros(S, dtype=bool)
    if S > 2:
        allow_skip[2:] = (ext[2:] != 0) & (ext[2:] != ext[:-2])

    alpha = np.full((T, S), _NEG)
    alpha[0, 0] = logp[0, ext[0]]
    if S > 1:
        alpha[0, 1] = logp[0, ext[1]]
    for t in range(1, T):
        prev = alpha[t - 1]
        stay = prev
        step = np.concatenate(([_NEG], prev[:-1]))
        a = _logsumexp2(stay, step)
        if S > 2:
            skip = np.concatenate(([_NEG, _NEG], prev[:-2]))
            a = np.where(allow_skip, _logsumexp2(a, skip), a)
        alpha[t] = a + logp[t, ext]

    ll = _logsumexp2(alpha[T - 1, S - 1], alpha[T - 1, S - 2] if S > 1 else _NEG)
    if not np.isfinite(ll) or ll <= _NEG / 2:
        # target unreachable in T frames: fall back to frame-wise blank
        # pressure (cannot happen for fixture crops; guard for tiny T)
        d = softmax(logits, axis=-1)
        d[:, 0] -= 1.0
        return float(-logp[:, 0].mean()), d / T

    beta = np.full((T, S), _NEG)
    beta[T - 1, S - 1] = logp[T - 1, ext[S - 1]]
    if S > 1:
        beta[T - 1, S - 2] = logp[T - 1, ext[S - 2]]
    allow_skip_f = np.zeros(S, dtype=bool)
    if S > 2:
        allow_skip_f[: S - 2] = (ext[:-2] != 0) & (ext[:-2] != ext[2:])
    for t in range(T - 2, -1, -1):
        nxt = beta[t + 1]
        stay = nxt
        step = np.concatenate((nxt[1:], [_NEG]))
        b = _logsumexp2(stay, step)
        if S > 2:
            skip = np.concatenate((nxt[2:], [_NEG, _NEG]))
            b = np.where(allow_skip_f, _logsumexp2(b, skip), b)
        beta[t] = b + logp[t, ext]

    # posterior over ext states: alpha*beta double-counts emission at t
    gamma = alpha + beta - logp[:, ext]
    post = np.exp(gamma - ll)  # [T, S]
    dlogp = softmax(logits, axis=-1)
    for s in range(S):
        dlogp[:, ext[s]] -= post[:, s]
    return float(-ll), dlogp


def ce_loss_grad(logits: np.ndarray, targets: np.ndarray, pad_id: int = 0):
    """Mean token cross-entropy over non-pad targets; [B, L, V] logits."""
    B, L, V = logits.shape
    logp = log_softmax(logits, axis=-1)
    mask = targets != pad_id
    n = int(mask.sum())
    if n == 0:
        return 0.0, np.zeros_like(logits)
    picked = np.take_along_axis(logp, targets[..., None], axis=-1)[..., 0]
    loss = float(-(picked * mask).sum() / n)
    d = softmax(logits, axis=-1)
    np.put_along_axis(
        d, targets[..., None],
        np.take_along_axis(d, targets[..., None], axis=-1) - 1.0, axis=-1,
    )
    d *= mask[..., None] / n
    return loss, d


# --------------------------------------------------------------------------
# dataset: fixture-rendered line crops
# --------------------------------------------------------------------------


def char_frame_labels(text: str, page_w: int, page_h: int, tok,
                      target_h: int = 48, target_w: int = 640,
                      scale: int | None = None) -> np.ndarray:
    """TRUE per-frame CTC-id labels for a single rendered line, from the
    renderer's deterministic layout (glyphs.render_page geometry composed
    with resize_keep_ratio_pad's scaling and the conv stem's /4 width
    stride). This is forced-alignment supervision for free — the fixture
    generator knows where every glyph is — used as a warmup objective to
    break CTC's blank-collapse saddle (standard bootstrap practice;
    the final objective is still plain CTC)."""
    from ..imaging.glyphs import CHAR_GAP, GLYPH_W, PAD_X, SCALE, SPACE_GAP

    scale = scale or SCALE
    T = target_w // 4
    labels = np.zeros(T, dtype=np.int64)  # blank everywhere else
    new_w = max(1, round(page_w * target_h / page_h))
    # a real space id exists only when the training charset includes ' '
    # (the glyph charset has no space glyph; a space-augmented vocab lets
    # the CTC head EMIT spaces instead of dropping them as unk)
    sp = tok.encode(" ")
    space_id = int(tok.raw_to_ctc(sp)[0]) if int(sp[0]) != tok.unk_id else None

    def mark(a_px: float, b_px: float, cid: int) -> None:
        a = a_px * new_w / page_w
        b = b_px * new_w / page_w
        for f in range(T):
            center = 4 * f + 1.5
            if a <= center < b:
                labels[f] = cid

    x = 0
    first = True
    for ch in text:
        if ch == " ":
            if space_id is not None:
                mark(PAD_X + scale * x, PAD_X + scale * (x + SPACE_GAP),
                     space_id)
            x += SPACE_GAP
            first = True
            continue
        if not first:
            x += CHAR_GAP
        cid = int(tok.raw_to_ctc(tok.encode(ch))[0])
        mark(PAD_X + scale * x, PAD_X + scale * (x + GLYPH_W), cid)
        x += GLYPH_W
        first = False
    return labels


def render_crop(line: str, tok, tinted: bool = False):
    """One training sample from a line text: (line, preprocessed crop,
    forced-alignment frame labels) — the same construction
    fixture_line_crops uses per media line."""
    from ..imaging.glyphs import SCALE, render_page
    from .detect import resize_keep_ratio_pad

    page = render_page([line], scale=SCALE)
    if tinted:
        from ..fixtures import _tint_page
        from ..imaging.png import decode_gray, encode_rgb

        page = decode_gray(encode_rgb(_tint_page(page)))
    img = resize_keep_ratio_pad(page)
    lab = char_frame_labels(line, page.shape[1], page.shape[0], tok)
    return line, img, lab


def fixture_line_crops(sf_dir: str, max_docs: int | None = None,
                       tok=None):
    """(line_text, gray_48x640, frame_labels) triples from the fixture's
    media spec — every rendered media line becomes one crop, preprocessed
    exactly like the inference paths (resize_keep_ratio_pad), with
    forced-alignment frame labels from the renderer geometry. Returns
    (train, heldout) split by doc hash (doc_id % 7 == 0 -> heldout),
    deterministic."""
    from ..fixtures import media_pages
    from .model import CFG

    if tok is None:
        tok = NumpyKiriModel(CFG()).tok
    train, heldout = [], []
    for doc_id, _, lines, _, tint in media_pages(sf_dir, max_docs):
        for line in lines:
            # tinted pages ship as truecolor in the fixture; after
            # decode_gray the luma distribution is 27/239, not 0/255 —
            # train on exactly what the pipeline's decode path produces
            # (real codec round trip)
            sample = render_crop(line, tok, tinted=tint)
            (heldout if doc_id % 7 == 0 else train).append(sample)
    return train, heldout


def pipeline_line_crops(sf_dir: str, max_docs: int | None = None):
    """(line_text, crop) pairs with the DEPLOYMENT crop geometry: render
    each media PAGE per the fixture spec (plain/inverted/tinted), PNG
    round-trip, `page.read_page`, `detect_lines`, then `page.tight_box` +
    `page.line_crop` — exactly `page.page_kernel`'s trained-recognizer,
    legacy-detector crop code. This differs from `render_crop`'s
    training-style margins: the stage-5f candidate regressed two sf0.1
    lines through THESE crops while sweeping zero-miss on every
    training-style deck, so the artifact gate must sweep BOTH geometries.
    Returns (samples, layout_misses): samples are (line_text, crop,
    doc_id) triples (doc_id lets trainers reuse fixture_line_crops'
    doc_id % 7 heldout split; train() ignores element [2] when
    align_epochs == 0); layout_misses records pages whose detected line
    count diverges from the spec (each is a gate failure too)."""
    from ..fixtures import media_pages, render_media
    from .detect import detect_lines
    from .page import line_crop, read_page, tight_box

    samples, layout_misses = [], []
    for doc_id, m, lines, invert, tint in media_pages(sf_dir, max_docs):
        gray, ink = read_page(render_media(lines, invert, tint)[1])
        boxes = detect_lines(gray, ink=ink)
        if len(boxes) != len(lines):
            layout_misses.append((doc_id, m, len(lines), len(boxes)))
            continue
        # detect_lines boxes always hold ink: tight_box is never None
        for line, b in zip(lines, boxes):
            samples.append((line, line_crop(gray, tight_box(ink, b)), doc_id))
    return samples, layout_misses


# --------------------------------------------------------------------------
# optimizer + training loop
# --------------------------------------------------------------------------


def trainable_params(model: NumpyKiriModel, train_stem: bool = False) -> dict[str, np.ndarray]:
    return {
        k: v.astype(np.float64).copy()
        for k, v in state_dict(model).items()
        if train_stem or not k.startswith("stem.")
    }


def apply_params(model: NumpyKiriModel, params: dict) -> None:
    """Write trained tensors back into the live model structures."""
    for i, c in enumerate(model.convs):
        if f"stem.{i}.k" in params:
            c["k"] = params[f"stem.{i}.k"]
            c["b"] = params[f"stem.{i}.b"]
    for i, ly in enumerate(model.enc_layers):
        for k in _ENC_KEYS:
            ly[k] = params[f"enc.layers.{i}.{k}"]
    model.enc_ln = (params["enc_ln.g"], params["enc_ln.b"])
    model.ctc_head = (params["ctc_head.w"], params["ctc_head.b"])
    model.dec_emb = params["dec_emb.weight"]
    for i, ly in enumerate(model.dec_layers):
        for k in _DEC_KEYS:
            ly[k] = params[f"dec.layers.{i}.{k}"]
    model.lm_head = (params["lm_head.w"], params["lm_head.b"])
    # Adam steps update these arrays in place, keeping their ids, so the
    # inference caches derived from them (fp32 weight casts, the all-pad
    # stem canvas) would serve the old weights: drop them
    model._cast32 = {}
    model._pad_stem_cache = {}


class Adam:
    def __init__(self, params: dict, lr=2e-3, b1=0.9, b2=0.999, eps=1e-8):
        self.lr, self.b1, self.b2, self.eps = lr, b1, b2, eps
        self.m = {k: np.zeros_like(v) for k, v in params.items()}
        self.v = {k: np.zeros_like(v) for k, v in params.items()}
        self.t = 0

    def step(self, params: dict, grads: dict) -> None:
        self.t += 1
        bc1 = 1.0 - self.b1 ** self.t
        bc2 = 1.0 - self.b2 ** self.t
        for k, p in params.items():
            g = grads[k]
            self.m[k] = self.b1 * self.m[k] + (1 - self.b1) * g
            self.v[k] = self.b2 * self.v[k] + (1 - self.b2) * g * g
            p -= self.lr * (self.m[k] / bc1) / (np.sqrt(self.v[k] / bc2) + self.eps)


def fit(init: dict, data: list, loss_and_grads, epochs: int, lr: float,
        seed: int, log, tag: str) -> tuple[dict, list[float]]:
    """Seeded per-sample Adam epochs from a float64 copy of ``init``:
    each epoch visits ``data`` (tuples of ``loss_and_grads`` arguments
    after params) in a fresh permutation. Returns (params, per-epoch
    mean loss) — the detector calibrators' fit loop."""
    params = {k: v.astype(np.float64).copy() for k, v in init.items()}
    opt = Adam(params, lr=lr)
    rng = np.random.default_rng(seed)
    history = []
    for ep in range(epochs):
        tot = 0.0
        for i in rng.permutation(len(data)):
            loss, grads = loss_and_grads(params, *data[i])
            opt.step(params, grads)
            tot += loss
        history.append(tot / len(data))
        if ep % 10 == 0 or ep == epochs - 1:
            log(f"{tag} epoch {ep + 1}/{epochs}: bce={history[-1]:.4f}")
    return params, history


def _batch_loss_and_grads(model, params, mem0, texts, ctc_weight=1.0,
                          ce_weight=1.0, images=None, frame_labels=None):
    """Joint CTC + teacher-forced CE over one batch. ``mem0`` is the
    cached stem output (frozen-stem mode); pass raw ``images`` instead to
    ALSO train the conv stem (mem0 is then computed here and stem grads
    flow). ``frame_labels`` [B, T] switches the CTC branch to the
    forced-alignment frame CE (warmup objective — see char_frame_labels).
    Returns (ctc_or_align_loss, ce_loss, grads)."""
    cfg, tok = model.cfg, model.tok
    grads = {k: np.zeros_like(v) for k, v in params.items()}
    stem_cache = None
    if images is not None:
        mem0, stem_cache = stem_fwd(params, images)
    B = mem0.shape[0]

    mem, enc_cache = enc_fwd(params, cfg.N_ENC_LAYERS, cfg.N_HEADS, mem0)

    # CTC branch (or its forced-alignment warmup)
    logits, head_cache = _linear_fwd(mem, params["ctc_head.w"],
                                     params["ctc_head.b"])
    if frame_labels is not None:
        # every frame is labeled (blank included), so no pad masking
        align_loss, dlogits = ce_loss_grad(logits, frame_labels, pad_id=-1)
        ctc_losses = [align_loss]
        dlogits = dlogits * ctc_weight
    else:
        ctc_losses, dlogits = [], np.zeros_like(logits)
        for i, text in enumerate(texts):
            tgt = tok.raw_to_ctc(tok.encode(text))
            li, di = ctc_loss_grad(logits[i], tgt)
            ctc_losses.append(li)
            dlogits[i] = di * (ctc_weight / B)
    dmem_ctc, dw, db = _linear_bwd(dlogits, head_cache)
    grads["ctc_head.w"] += dw
    grads["ctc_head.b"] += db

    # decoder branch (teacher forcing)
    ids = [tok.raw_to_dec(tok.encode(t)) for t in texts]
    L = max(len(x) for x in ids) + 1
    dec_in = np.zeros((B, L), dtype=np.int64)
    dec_tgt = np.zeros((B, L), dtype=np.int64)
    for i, x in enumerate(ids):
        dec_in[i, 0] = tok.DEC_BOS
        dec_in[i, 1 : len(x) + 1] = x
        dec_tgt[i, : len(x)] = x
        dec_tgt[i, len(x)] = tok.DEC_EOS
    dlogits_dec_logits, dec_cache = dec_fwd(
        params, cfg.N_DEC_LAYERS, cfg.N_HEADS, dec_in, mem
    )
    ce, dce = ce_loss_grad(dlogits_dec_logits, dec_tgt, pad_id=tok.DEC_PAD)
    dmem_dec = dec_bwd(dce * ce_weight, dec_cache, grads)

    dmem0 = enc_bwd(dmem_ctc + dmem_dec, enc_cache, grads)
    if stem_cache is not None:
        stem_bwd(dmem0, stem_cache, grads)
    return float(np.mean(ctc_losses)), ce, grads


def train(model: NumpyKiriModel, samples, *, epochs=8, batch_size=16,
          lr=2e-3, seed=7, train_stem=False, lr_decay_at=(0.6, 0.85),
          align_epochs=0, val_samples=None, val_every=0, val_limit=32,
          val_history=None, log=print):
    """Train in place; returns per-epoch (ctc_loss, ce_loss) history.

    A13 (reference training.py:865-949): when ``val_samples``/``val_every``
    are set, every Nth epoch runs a sampled validation pass — held-out
    CTC CER + exact-match rate — appended to ``val_history`` as
    (epoch, cer, exact_rate) and logged; the during-training quality
    signal the reference's validation loop provides.

    train_stem=True backprops into the conv stem too — necessary when the
    seed stem's content signal is too weak for CTC to localize characters
    (measured: seed conv activations are ~7x smaller than the additive
    positional encoding). align_epochs > 0 runs that many initial epochs
    with the forced-alignment frame-CE objective (samples must carry
    frame labels) — plain CTC from random init collapses onto the
    frame-constant blank saddle and cannot escape it (measured:
    frame-to-frame logit variation 1e-6 after 600 steps); the warmup
    breaks the symmetry, then CTC takes over. lr steps down x0.3 at the
    given epoch fractions."""
    params = trainable_params(model, train_stem=train_stem)
    opt = Adam(params, lr=lr)
    texts = [s[0] for s in samples]
    imgs = np.stack([s[1] for s in samples]).astype(np.float64)
    labels = (
        np.stack([s[2] for s in samples])
        if align_epochs > 0 and len(samples[0]) > 2
        else None
    )
    if align_epochs > 0 and labels is None:
        raise ValueError("align_epochs > 0 needs frame labels in samples")
    mem0 = None
    if not train_stem:
        log(f"stem forward over {len(samples)} crops (frozen, cached)...")
        mem0 = np.concatenate(
            [stem_forward(model, imgs[i : i + 64])
             for i in range(0, len(imgs), 64)]
        )
    rng = np.random.default_rng(seed)
    history = []
    decays = {int(epochs * f) for f in lr_decay_at}
    for ep in range(epochs):
        if ep in decays:
            opt.lr *= 0.3
        if align_epochs and ep == align_epochs:
            # align -> CTC handoff: the CTC gradient against frame-CE-
            # calibrated logits is violent, and the stale Adam moments
            # amplify it — measured: the same schedule recovered in some
            # runs and collapsed frame-constant (loss pinned ~35) in
            # others. Fine-tune from the aligned state: drop lr and
            # reset the optimizer moments for the new loss landscape.
            opt.lr *= 0.3
            opt.m = {k: np.zeros_like(v) for k, v in params.items()}
            opt.v = {k: np.zeros_like(v) for k, v in params.items()}
            opt.t = 0
        warmup = ep < align_epochs
        order = rng.permutation(len(samples))
        ctc_sum = ce_sum = 0.0
        nb = 0
        for s in range(0, len(order), batch_size):
            idx = order[s : s + batch_size]
            kwargs = dict(
                frame_labels=labels[idx] if warmup else None,
            )
            if train_stem:
                kwargs["images"] = imgs[idx]
                m0 = None
            else:
                m0 = mem0[idx]
            ctc, ce, grads = _batch_loss_and_grads(
                model, params, m0, [texts[i] for i in idx], **kwargs
            )
            opt.step(params, grads)
            ctc_sum += ctc
            ce_sum += ce
            nb += 1
        history.append((ctc_sum / nb, ce_sum / nb))
        tag = "align" if warmup else "ctc"
        log(f"epoch {ep + 1}/{epochs}: {tag}={ctc_sum / nb:.4f} ce={ce_sum / nb:.4f}")
        if val_every and val_samples is not None and (ep + 1) % val_every == 0:
            apply_params(model, params)  # idempotent; params stay canonical
            cer, exact = _cer_exact(model, val_samples[:val_limit], "ctc")
            if val_history is not None:
                val_history.append((ep + 1, round(cer, 4), round(exact, 4)))
            log(f"  val@{ep + 1}: ctc_cer={cer:.4f} exact={exact:.3f}")
    apply_params(model, params)
    return history


# --------------------------------------------------------------------------
# evaluation
# --------------------------------------------------------------------------


def edit_distance(a: str, b: str) -> int:
    if not a:
        return len(b)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _cer_exact(model: NumpyKiriModel, samples, method: str) -> tuple[float, float]:
    """(corpus CER, exact-match rate) of one decode of (text,
    preprocessed-crop) samples through the engine's line decoder
    (model.decode_crops_memo: fp32, ``method`` "ctc", "decoder" or
    "beam") — CER is measured in the dtype the engine deploys."""
    decoded = decode_crops_memo(model, [s[1] for s in samples], {}, method)
    refs = [s[0] for s in samples]
    hyps = [text for text, _ in decoded]
    cer = sum(map(edit_distance, refs, hyps)) / max(sum(map(len, refs)), 1)
    return cer, sum(map(str.__eq__, refs, hyps)) / max(len(refs), 1)


def evaluate_cer(model: NumpyKiriModel, samples, method: str = "decoder",
                 limit: int | None = None) -> float:
    """Corpus CER (sum edits / sum ref chars) of a decode path over
    (text, preprocessed-crop) samples (see _cer_exact)."""
    return _cer_exact(model, samples[:limit] if limit else samples, method)[0]


# --------------------------------------------------------------------------
# charset-coverage crops: the corpora cover only 24/146 charset glyphs
# (lowercase a-w + y); digits, punctuation, uppercase and the whole Khmer
# block are unseen by corpus-only training. The reference's model is a
# production Khmer+Latin recognizer (model.py charset), so a faithful
# in-sandbox artifact must classify its FULL glyph system — these seeded
# synthetic lines give every glyph balanced context coverage.
# --------------------------------------------------------------------------


def charset_coverage_lines(n_lines: int, seed: int, max_chars: int = 16) -> list[str]:
    """Deterministic random lines jointly covering every CHARSET glyph
    ~uniformly: each line is 2-3 space-separated 'words' drawn from a
    repeatedly reshuffled full-charset deck, so after N lines every
    glyph has appeared ~N*11/146 times in varied left/right contexts."""
    from ..imaging.glyphs import CHARSET

    rng = np.random.default_rng(seed)
    deck: list[str] = []
    lines = []
    for _ in range(n_lines):
        n_words = int(rng.integers(2, 4))
        words = []
        budget = max_chars - (n_words - 1)
        for w in range(n_words):
            wl = int(rng.integers(2, min(7, max(3, budget - (n_words - 1 - w) * 2))))
            budget -= wl
            chars = []
            for _ in range(wl):
                if not deck:
                    deck = list(CHARSET)
                    rng.shuffle(deck)
                chars.append(deck.pop())
            words.append("".join(chars))
        lines.append(" ".join(words))
    return lines


def charset_coverage_crops(tok, n_train: int = 2000, n_heldout: int = 200,
                           seed: int = 61):
    """(train, heldout) crop sets over the full charset, rendered and
    preprocessed exactly like fixture_line_crops (every 5th line runs
    the tinted truecolor codec round-trip). Held-out lines come from an
    independent seed so evaluation text is never trained on."""
    train = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_coverage_lines(n_train, seed))
    ]
    heldout = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_coverage_lines(n_heldout, seed + 1))
    ]
    return train, heldout


def charset_adjacency_lines(n_lines: int, seed: int) -> list[str]:
    """Lines that EXHAUSTIVELY sample symbol/digit adjacency bigrams.

    charset_coverage_lines covers glyph MARGINALS ~uniformly, but with
    146x146 ordered bigrams and ~11 transitions/line each specific
    bigram shows up only ~rarely — and the stage-4 artifact's residual
    coverage misses were all under-sampled symbol adjacencies ('m^' at
    line end, '@C'/'`@' inside clusters, 'i(' insertion). Here every
    word is a chain of pairs drawn WITHOUT replacement from the deck of
    all ordered pairs where at least one side is a non-alphabetic glyph
    (symbols + digits), reshuffled when exhausted (~8.7k pairs), so n
    lines of ~4 pairs visit every such bigram once per ~2.2k lines —
    orders of magnitude denser than uniform sampling."""
    from ..imaging.glyphs import CHARSET

    rng = np.random.default_rng(seed)
    symdig = [c for c in CHARSET if not c.isalpha()]
    pair_deck: list[tuple[str, str]] = []
    lines: list[str] = []
    for _ in range(n_lines):
        words = []
        for _w in range(int(rng.integers(2, 4))):
            chars: list[str] = []
            for _p in range(int(rng.integers(1, 3))):
                if not pair_deck:
                    pair_deck = [(a, b) for a in CHARSET for b in symdig] + [
                        (a, b) for a in symdig for b in CHARSET
                    ]
                    rng.shuffle(pair_deck)
                a, b = pair_deck.pop()
                chars += [a, b]
            words.append("".join(chars))
        lines.append(" ".join(words))
    return lines


def charset_adjacency_crops(tok, n_train: int = 4000, n_heldout: int = 200,
                            seed: int = 83):
    """(train, heldout) crops over the adjacency-bigram distribution,
    rendered and preprocessed exactly like the other crop families
    (every 5th line tinted); held-out lines from an independent seed."""
    train = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_adjacency_lines(n_train, seed))
    ]
    heldout = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_adjacency_lines(n_heldout, seed + 1))
    ]
    return train, heldout


def charset_interior_lines(n_lines: int, seed: int) -> list[str]:
    """Lines attacking the INTERIOR-deletion failure mode: the stage-5
    residual misses were both deletions of a thin non-alpha glyph
    sandwiched inside a 3-5 char mixed cluster ('`@' in ';ឝ`@>', '7' in
    'ថ7>6'). Every word here is flank + (sym + flank)*k with k in {1,2}
    — symbols/digits drawn deck-exhaustively into INTERIOR positions
    with deck-drawn charset flanks, so each non-alpha glyph sees ~n/42
    distinct interior contexts."""
    from ..imaging.glyphs import CHARSET

    rng = np.random.default_rng(seed)
    symdig = [c for c in CHARSET if not c.isalpha()]
    sym_deck: list[str] = []
    any_deck: list[str] = []

    def draw(deck: list[str], pool: list[str]) -> str:
        if not deck:
            deck.extend(pool)
            rng.shuffle(deck)
        return deck.pop()

    lines: list[str] = []
    for _ in range(n_lines):
        words = []
        for _w in range(int(rng.integers(2, 4))):
            chars = [draw(any_deck, list(CHARSET))]
            for _k in range(int(rng.integers(1, 3))):
                chars.append(draw(sym_deck, symdig))
                chars.append(draw(any_deck, list(CHARSET)))
            words.append("".join(chars))
        lines.append(" ".join(words))
    return lines


def charset_interior_crops(tok, n_train: int = 4000, n_heldout: int = 200,
                           seed: int = 97):
    """(train, heldout) crops over the interior-glyph distribution."""
    train = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_interior_lines(n_train, seed))
    ]
    heldout = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_interior_lines(n_heldout, seed + 1))
    ]
    return train, heldout


def charset_trigram_lines(n_lines: int, seed: int) -> list[str]:
    """Lines attacking THIN-glyph cluster contexts behind a WIDE flank:
    the stage-5b residual misses were both a thin glyph mis-segmented
    inside a cluster whose leading glyph is wide — 'ណi(' gaining a
    phantom '2' between the 'i' and the '(', 'រ5ឬ' dropping the '5'
    between two Khmer flanks. Every word here is wide-flank + a 2-3
    glyph tail in which exactly one position is deck-drawn from the
    thin symbols+digits pool and the rest from the full charset deck
    (tail order shuffled), so each thin glyph sees ~3*n/42 distinct
    wide-flank cluster contexts per n lines — two orders denser than
    uniform coverage sampling reaches."""
    from ..imaging.glyphs import CHARSET

    rng = np.random.default_rng(seed)
    pools = {
        "wide": [c for c in CHARSET if (not c.isascii()) or c.isupper()],
        "sym": [c for c in CHARSET if not c.isalpha()],
        "any": list(CHARSET),
    }
    decks: dict[str, list[str]] = {k: [] for k in pools}

    def draw(kind: str) -> str:
        if not decks[kind]:
            decks[kind] = list(pools[kind])
            rng.shuffle(decks[kind])
        return decks[kind].pop()

    lines: list[str] = []
    for _ in range(n_lines):
        words = []
        for _w in range(int(rng.integers(2, 4))):
            tail = ["sym", "any"] if rng.integers(2) else ["any", "sym"]
            if rng.integers(2):
                tail.append("any")
            words.append(draw("wide") + "".join(draw(k) for k in tail))
        lines.append(" ".join(words))
    return lines


def charset_thinpair_lines(n_lines: int, seed: int) -> list[str]:
    """Exhaustive ascii-PAIR adjacency enumeration behind wide flanks.

    The stage-5c residual miss ('ណi(' gaining a phantom '2') is a pair
    adjacency the deck-random trigram family never samples: 'i(' needs
    one specific 'any' draw AND one specific 'sym' draw in the same
    tail (P ~ 1/6k per word — 0 occurrences in 4000 trigram lines).
    Here every ORDERED pair (a, b) over the 68-glyph ascii
    lowercase/digit/punct pool (4,624 pairs) appears once per cyclic
    pass as a word FLANK+a+b, flank deck-drawn from the 78-glyph wide
    pool (Khmer + uppercase), pair order reshuffled per pass — so each
    full pass guarantees 'i(' (and every other pair) behind some wide
    flank, and successive passes vary the flank."""
    from ..imaging.glyphs import CHARSET

    rng = np.random.default_rng(seed)
    ascii_pool = [c for c in CHARSET if c.isascii() and not c.isupper()]
    wide_pool = [c for c in CHARSET if (not c.isascii()) or c.isupper()]
    pairs = [(a, b) for a in ascii_pool for b in ascii_pool]
    pair_deck: list[tuple[str, str]] = []
    flank_deck: list[str] = []
    lines: list[str] = []
    for _ in range(n_lines):
        words = []
        for _w in range(3):
            if not pair_deck:
                pair_deck = list(pairs)
                rng.shuffle(pair_deck)
            if not flank_deck:
                flank_deck = list(wide_pool)
                rng.shuffle(flank_deck)
            a, b = pair_deck.pop()
            words.append(flank_deck.pop() + a + b)
        lines.append(" ".join(words))
    return lines


def charset_thinpair_crops(tok, n_train: int = 3200, n_heldout: int = 200,
                           seed: int = 127):
    """(train, heldout) crops over the exhaustive ascii-pair family,
    rendered under the same contract as the other crop families (every
    5th line tinted); held-out from an independent seed (different pair
    order and flank assignment over the same enumerated pair space)."""
    train = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_thinpair_lines(n_train, seed))
    ]
    heldout = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_thinpair_lines(n_heldout, seed + 1))
    ]
    return train, heldout


def charset_trigram_crops(tok, n_train: int = 4000, n_heldout: int = 200,
                          seed: int = 113):
    """(train, heldout) crops over the wide-flank thin-glyph trigram
    distribution, rendered under the same contract as the other crop
    families (every 5th line tinted); held-out from an independent
    seed."""
    train = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_trigram_lines(n_train, seed))
    ]
    heldout = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(charset_trigram_lines(n_heldout, seed + 1))
    ]
    return train, heldout


def charset_pattern_lines(n_lines: int, seed: int) -> list[str]:
    """Lines from the model_decode_charset oracle's PATTERN FAMILY
    ('Id:<khmer-digits> #<d%100> <Upper><sym>') drawn from doc_ids with
    ``d % 17 != 0`` — the oracle samples exactly ``d % 17 == 0``, so
    every oracle line stays held out of training. The family's fixed
    skeleton produces the adjacency bigrams (uppercase directly before a
    symbol, two-digit runs after '#') that uniform coverage lines
    under-sample: the stage-3 artifact's only residual misses were
    'E<sym>' CTC-doubling and '41' -> '4a1' insertions on this family."""
    rng = np.random.default_rng(seed)
    kh = "កខគឃងចឆជឈញ"
    syms = "!?%&*+=@"
    lines: list[str] = []
    seen: set[int] = set()
    while len(lines) < n_lines:
        d = int(rng.integers(0, 100_000))
        if d % 17 == 0 or d in seen:
            continue
        seen.add(d)
        lines.append(
            "Id:" + "".join(kh[int(c)] for c in str(d))
            + f" #{d % 100} " + chr(65 + d % 26) + syms[d % 8]
        )
    return lines


def charset_pattern_crops(tok, n_train: int = 2000, n_heldout: int = 100,
                          seed: int = 71):
    """(train, heldout) crops over the oracle pattern family, rendered
    under the same contract as charset_coverage_crops (every 5th line
    tinted). One seeded draw split train/heldout — the in-draw dedup
    guarantees no id (hence no line) appears in both — and the oracle's
    own ids (% 17 == 0) are excluded from BOTH by construction."""
    lines = charset_pattern_lines(n_train + n_heldout, seed)
    train = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(lines[:n_train])
    ]
    heldout = [
        render_crop(line, tok, tinted=(i % 5 == 3))
        for i, line in enumerate(lines[n_train:])
    ]
    return train, heldout
