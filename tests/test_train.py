"""Numpy training machinery (reference training.py:758-860 semantics):
gradient correctness by central differences, forward parity with the
inference model, and end-to-end learning on rendered crops."""

from __future__ import annotations

import numpy as np
import pytest

from kiri_ocr_spark.operators.model import CFG, NumpyKiriModel
from kiri_ocr_spark.operators import train as T


def tiny_model() -> NumpyKiriModel:
    cfg = CFG()
    cfg.D_MODEL = 16
    cfg.N_HEADS = 2
    cfg.N_ENC_LAYERS = 1
    cfg.N_DEC_LAYERS = 1
    cfg.FF_MULT = 2
    return NumpyKiriModel(cfg)


def test_enc_dec_forward_parity_with_inference_model():
    """train.enc_fwd/dec_fwd must reproduce model.encode/_decode_step
    exactly — trained weights drop into the inference paths unchanged."""
    model = tiny_model()
    rng = np.random.default_rng(0)
    imgs = (rng.random((2, 48, 64)) * 255).astype(np.uint8)
    params = T.trainable_params(model)

    mem0 = T.stem_forward(model, imgs)
    mem, _ = T.enc_fwd(params, model.cfg.N_ENC_LAYERS, model.cfg.N_HEADS, mem0)
    ref = model.encode(imgs)
    assert np.allclose(mem, ref, atol=1e-12)

    dec_ids = np.array([[1, 5, 9], [1, 7, 2]])
    logits, _ = T.dec_fwd(params, model.cfg.N_DEC_LAYERS, model.cfg.N_HEADS,
                          dec_ids, mem)
    ref_logits = model._decode_step(dec_ids, ref)
    assert np.allclose(logits, ref_logits, atol=1e-12)


def test_ctc_loss_numeric_gradient():
    rng = np.random.default_rng(1)
    logits = rng.normal(0, 1.0, size=(8, 6))
    target = np.array([3, 2, 3])
    loss, grad = T.ctc_loss_grad(logits, target)
    assert np.isfinite(loss) and loss > 0
    h = 1e-6
    for t in range(8):
        for v in range(6):
            p = logits.copy()
            p[t, v] += h
            m = logits.copy()
            m[t, v] -= h
            num = (T.ctc_loss_grad(p, target)[0] - T.ctc_loss_grad(m, target)[0]) / (2 * h)
            assert abs(num - grad[t, v]) < 1e-5, (t, v, num, grad[t, v])


def test_ctc_loss_empty_target_learns_blanks():
    rng = np.random.default_rng(2)
    logits = rng.normal(0, 1.0, size=(5, 4))
    loss, grad = T.ctc_loss_grad(logits, np.array([], dtype=np.int64))
    # gradient pushes toward blank (id 0) at every frame
    assert (grad[:, 0] < 0).all()
    assert np.isfinite(loss)


def test_joint_loss_numeric_gradient_spot_checks():
    """Central-difference check of the FULL backprop (encoder + both
    heads + decoder) on a handful of coordinates of every tensor kind."""
    model = tiny_model()
    rng = np.random.default_rng(3)
    mem0 = rng.normal(0, 1.0, size=(2, 12, model.cfg.D_MODEL))
    texts = ["ab", "c"]

    def loss_of(params):
        ctc, ce, _ = T._batch_loss_and_grads(model, params, mem0, texts)
        return ctc + ce

    params = T.trainable_params(model)
    _, _, grads = T._batch_loss_and_grads(model, params, mem0, texts)
    h = 1e-6
    checked = 0
    for name in [
        "enc.layers.0.wq", "enc.layers.0.g1", "enc.layers.0.w1",
        "enc_ln.g", "ctc_head.w", "ctc_head.b",
        "dec.layers.0.sq", "dec.layers.0.cq", "dec.layers.0.ck",
        "dec.layers.0.w2", "dec.layers.0.g3",
        "dec_emb.weight", "lm_head.w",
    ]:
        arr = params[name]
        flat_idx = rng.integers(0, arr.size, size=3)
        for fi in flat_idx:
            idx = np.unravel_index(fi, arr.shape)
            p = {k: v.copy() for k, v in params.items()}
            p[name][idx] += h
            m = {k: v.copy() for k, v in params.items()}
            m[name][idx] -= h
            num = (loss_of(p) - loss_of(m)) / (2 * h)
            ana = grads[name][idx]
            assert abs(num - ana) < 5e-5 * max(1.0, abs(num)), (
                name, idx, num, ana,
            )
            checked += 1
    assert checked >= 39


def test_stem_fwd_parity_and_numeric_gradient():
    """stem_fwd must equal the inference stem exactly, and conv backprop
    must match central differences through the full joint loss."""
    model = tiny_model()
    rng = np.random.default_rng(5)
    imgs = (rng.random((2, 16, 32)) * 255).astype(np.uint8)
    params = T.trainable_params(model, train_stem=True)
    mem0, _ = T.stem_fwd(params, imgs)
    assert np.allclose(mem0, T.stem_forward(model, imgs), atol=1e-12)

    texts = ["ab", "c"]

    def loss_of(p):
        ctc, ce, _ = T._batch_loss_and_grads(model, p, None, texts,
                                             images=imgs.astype(np.float64))
        return ctc + ce

    _, _, grads = T._batch_loss_and_grads(model, params, None, texts,
                                          images=imgs.astype(np.float64))
    h = 1e-6
    for name in ("stem.0.k", "stem.1.b", "stem.2.k"):
        arr = params[name]
        for fi in rng.integers(0, arr.size, size=3):
            idx = np.unravel_index(fi, arr.shape)
            p = {k: v.copy() for k, v in params.items()}
            p[name][idx] += h
            m = {k: v.copy() for k, v in params.items()}
            m[name][idx] -= h
            num = (loss_of(p) - loss_of(m)) / (2 * h)
            ana = grads[name][idx]
            assert abs(num - ana) < 5e-5 * max(1.0, abs(num)), (name, idx, num, ana)


def test_training_learns_and_improves_cer():
    """A short run on a few rendered crops must drive both losses down
    and beat the seed weights' CER on the SAME crops (the full-corpus
    held-out result is scripts/train_model.py's job; this is the law)."""
    from kiri_ocr_spark.imaging.glyphs import SCALE, render_page
    from kiri_ocr_spark.operators.detect import resize_keep_ratio_pad

    model = tiny_model()
    words = ["spark", "query", "join", "scan", "sort", "data", "row", "fast"]
    samples = [
        (w1 + " " + w2,
         resize_keep_ratio_pad(render_page([w1 + " " + w2], scale=SCALE),
                               target_w=256))
        for w1 in words for w2 in words[:4]
    ]
    cer_seed = T.evaluate_cer(model, samples, method="ctc")
    val_history: list = []
    hist = T.train(model, samples, epochs=6, batch_size=8, lr=3e-3,
                   lr_decay_at=(), val_samples=samples[:8], val_every=3,
                   val_history=val_history, log=lambda *_: None)
    assert hist[-1][0] < hist[0][0] * 0.7  # CTC loss dropped
    assert hist[-1][1] < hist[0][1] * 0.7  # CE loss dropped
    # A13: during-training validation sampled every val_every epochs
    assert [e for e, _, _ in val_history] == [3, 6]
    assert all(0.0 <= c and 0.0 <= x <= 1.0 for _, c, x in val_history)
    cer_trained = T.evaluate_cer(model, samples, method="ctc")
    assert cer_trained < cer_seed * 0.8
    cer_dec = T.evaluate_cer(model, samples, method="decoder", limit=8)
    assert np.isfinite(cer_dec)


def test_fp32_decode_after_training_uses_the_trained_weights(tmp_path):
    """Adam updates the weights in place, so train() must drop the fp32
    weight casts and the all-pad stem canvas cached before it: after
    training, the fp32 encode equals a freshly loaded copy's, bit for
    bit."""
    from kiri_ocr_spark.imaging.glyphs import SCALE, render_page
    from kiri_ocr_spark.operators.detect import resize_keep_ratio_pad
    from kiri_ocr_spark.operators.model import load_model, save_model

    model = tiny_model()
    samples = [
        (w, resize_keep_ratio_pad(render_page([w], scale=SCALE), target_w=256))
        for w in ["spark", "query", "join", "scan", "sort", "data", "row", "fast"]
    ]
    crops = np.stack([c for _, c in samples]).astype(np.float32)
    model.encode(crops, fp32=True)  # fills the caches with seed weights
    T.train(model, samples, epochs=2, batch_size=4, train_stem=True,
            lr_decay_at=(), val_samples=samples, val_every=1,
            log=lambda *_: None)
    path = str(tmp_path / "m.npz")
    save_model(model, path)
    fresh = load_model(path)
    assert (model.encode(crops, fp32=True) == fresh.encode(crops, fp32=True)).all()


def test_frame_labels_collapse_to_text_and_mark_spaces():
    """Forced-alignment labels must CTC-collapse back to the text —
    including real spaces when the vocab carries ' ' (the space-augmented
    training charset), and dropping them when it doesn't."""
    from kiri_ocr_spark.imaging.glyphs import CHARSET, SCALE, render_page
    from kiri_ocr_spark.operators.model import CharTokenizer
    from kiri_ocr_spark.operators.train import char_frame_labels

    text = "ab cd e"
    page = render_page([text], scale=SCALE)
    base = CharTokenizer(list(CHARSET))
    lab = char_frame_labels(text, page.shape[1], page.shape[0], base)
    assert base.decode_ctc(lab) == "abcde"  # no space glyph -> dropped

    sp = CharTokenizer(list(CHARSET) + [" "])
    lab2 = char_frame_labels(text, page.shape[1], page.shape[0], sp)
    assert sp.decode_ctc(lab2) == "ab cd e"  # spaces are real labels
    assert (lab2 != 0).sum() > (lab != 0).sum()


def test_trained_model_round_trips_through_loader(tmp_path):
    """Trained weights must survive save_model/load_model bit-for-bit
    (S3 loader is the cluster shipping path for the trained artifact)."""
    from kiri_ocr_spark.imaging.glyphs import SCALE, render_page
    from kiri_ocr_spark.operators.detect import resize_keep_ratio_pad
    from kiri_ocr_spark.operators.model import load_model, save_model

    model = tiny_model()
    samples = [
        (w, resize_keep_ratio_pad(render_page([w], scale=SCALE), target_w=256))
        for w in ["alpha", "beta", "gamma", "delta"]
    ]
    T.train(model, samples, epochs=2, batch_size=4, log=lambda *_: None)
    path = str(tmp_path / "trained.npz")
    save_model(model, path)
    loaded = load_model(path)
    img = samples[0][1]
    mem_a = model.encode(img[None].astype(np.float32))
    mem_b = loaded.encode(img[None].astype(np.float32))
    assert (mem_a == mem_b).all()
    assert model.ctc_greedy(mem_a) == loaded.ctc_greedy(mem_b)
    assert model.beam_decode(mem_a[0]) == loaded.beam_decode(mem_b[0])


def test_charset_coverage_lines_cover_every_glyph_deterministically():
    """The coverage generator must (a) be seed-deterministic and
    prefix-stable (the shipped artifact's training data is reproducible
    from the script invocation alone), (b) jointly cover ALL 146 charset
    glyphs — the reference recognizer's full Khmer+Latin glyph system —
    within a modest line budget, (c) respect the line-length budget, and
    (d) never leak held-out lines (seed+1) into the train set."""
    from collections import Counter

    from kiri_ocr_spark.imaging.glyphs import CHARSET

    a = T.charset_coverage_lines(500, seed=61)
    b = T.charset_coverage_lines(500, seed=61)
    assert a == b  # deterministic
    assert T.charset_coverage_lines(200, seed=61) == a[:200]  # prefix-stable

    counts = Counter(ch for line in a for ch in line if ch != " ")
    missing = [g for g in CHARSET if counts[g] == 0]
    assert not missing, f"uncovered glyphs: {missing[:10]}"
    # deck reshuffle => near-uniform coverage: no glyph hogs the budget
    assert max(counts.values()) <= 3 * min(counts.values())
    assert all(len(line) <= 16 for line in a)

    held = T.charset_coverage_lines(50, seed=62)
    assert not set(held) & set(a)  # independent seed, no leakage



def test_trained_model_path_prefers_full_charset_artifact():
    """queries.trained_model_path ships the full-charset artifact when
    built (the production-shaped recognizer), falling back to the
    corpus-only one — both are committed, so on this repo it must
    resolve to trained_full.npz."""
    import os

    from kiri_ocr_spark.queries import trained_model_path

    path = trained_model_path()
    assert os.path.exists(path)
    base = os.path.basename(path)
    models = os.path.dirname(path)
    if os.path.exists(os.path.join(models, "trained_full.npz")):
        assert base == "trained_full.npz"
    else:
        assert base == "trained_small.npz"


def test_full_charset_artifact_decodes_unseen_glyph_classes():
    """The shipped full-charset artifact must exactly decode lines made
    of glyph classes the fixture corpora never contain (Khmer block,
    digits, uppercase, punctuation) under the training render contract —
    the bar the model_decode_charset oracle enforces distributively
    (reference: benchmark/run_benchmark.py renders known text and
    requires exact lines back over the production charset)."""
    import os

    from kiri_ocr_spark.imaging.glyphs import render_page
    from kiri_ocr_spark.operators.detect import resize_keep_ratio_pad
    from kiri_ocr_spark.operators.model import load_model
    from kiri_ocr_spark.queries import trained_model_path

    path = trained_model_path()
    if os.path.basename(path) != "trained_full.npz":
        pytest.skip("full-charset artifact not built (charset_finetune.py)")
    model = load_model(path)
    lines = ["Id:កខគ #42 Q?", "A7%&* ជឈញ", "Zx9!+= ងចឆ"]
    for line in lines:
        img = resize_keep_ratio_pad(render_page([line]))
        ((text, _),) = model.ctc_greedy(
            model.encode(img[None].astype(np.float32), fp32=True)
        )
        assert text == line


def test_charset_pattern_lines_hold_out_oracle_ids():
    """The stage-4 pattern-family generator must (a) be deterministic,
    (b) never emit an id the model_decode_charset oracle samples
    (d % 17 == 0) — the oracle's lines stay held out of training by
    construction — and (c) never duplicate an id, so the train/heldout
    split in charset_pattern_crops is leak-free."""
    import re

    kh = "កខគឃងចឆជឈញ"
    a = T.charset_pattern_lines(300, seed=71)
    assert a == T.charset_pattern_lines(300, seed=71)
    assert len(set(a)) == 300
    for line in a:
        m = re.match("Id:([" + kh + "]+) #", line)
        d = int("".join(str(kh.index(c)) for c in m.group(1)))
        assert d % 17 != 0, line


def test_charset_targeted_line_families_are_deterministic_and_in_charset():
    """Round-6 targeted families: adjacency (every ordered bigram with a
    non-alpha side, deck-exhaustive) and interior (non-alpha glyphs in
    sandwiched positions). Deterministic per seed, charset-only, and
    structurally what they claim."""
    from kiri_ocr_spark.imaging.glyphs import CHARSET
    from kiri_ocr_spark.operators.train import (
        charset_adjacency_lines,
        charset_interior_lines,
    )

    cs = set(CHARSET)
    symdig = {c for c in CHARSET if not c.isalpha()}
    a1 = charset_adjacency_lines(200, 83)
    assert a1 == charset_adjacency_lines(200, 83)
    assert a1 != charset_adjacency_lines(200, 84)
    for ln in a1:
        assert set(ln) - {" "} <= cs
        for w in ln.split(" "):
            # words are chains of pairs: even length, every pair touches
            # a symbol/digit on at least one side
            assert len(w) % 2 == 0
            assert all(w[i] in symdig or w[i + 1] in symdig
                       for i in range(0, len(w), 2))
    i1 = charset_interior_lines(200, 97)
    assert i1 == charset_interior_lines(200, 97)
    for ln in i1:
        assert set(ln) - {" "} <= cs
        for w in ln.split(" "):
            # flank + (sym + flank)*k: odd length, non-alpha interiors
            assert len(w) % 2 == 1 and len(w) >= 3
            assert all(w[i] in symdig for i in range(1, len(w), 2))


def test_charset_trigram_lines_structure_and_determinism():
    """Stage-5c family: wide flank (Khmer block or uppercase) + a 2-3
    glyph tail containing exactly one symbol/digit position — the
    stage-5b residual-miss shape. Deterministic per seed, charset-only,
    and the thin-glyph deck actually cycles (every symbol/digit appears
    within a deck period)."""
    from kiri_ocr_spark.imaging.glyphs import CHARSET
    from kiri_ocr_spark.operators.train import charset_trigram_lines

    cs = set(CHARSET)
    symdig = {c for c in CHARSET if not c.isalpha()}
    wide = {c for c in CHARSET if (not c.isascii()) or c.isupper()}
    t1 = charset_trigram_lines(200, 113)
    assert t1 == charset_trigram_lines(200, 113)
    assert t1 != charset_trigram_lines(200, 114)
    seen_sym = set()
    for ln in t1:
        assert set(ln) - {" "} <= cs
        for w in ln.split(" "):
            assert 3 <= len(w) <= 4
            assert w[0] in wide
            tail_sym = [c for c in w[1:] if c in symdig]
            # exactly one deck-drawn thin position; 'any' draws may add
            # more non-alpha glyphs by chance, never zero
            assert len(tail_sym) >= 1
            seen_sym.update(tail_sym)
    # 200 lines x ~2.5 words exhaust the 42-glyph thin deck many times
    assert seen_sym >= symdig


def test_charset_thinpair_lines_enumerate_all_pairs():
    """Stage-5d family: every word is FLANK+a+b with the (a, b) pair
    deck cycling through ALL 4,624 ordered ascii lowercase/digit/punct
    pairs — one full pass guarantees every pair (the deck-random trigram
    family left 'i(' unsampled in 4000 lines, which is exactly where the
    stage-5c residual miss lived). Deterministic per seed, charset-only,
    independent-seed held-out disjoint from train."""
    from kiri_ocr_spark.imaging.glyphs import CHARSET
    from kiri_ocr_spark.operators.train import charset_thinpair_lines

    ascii_pool = {c for c in CHARSET if c.isascii() and not c.isupper()}
    wide = {c for c in CHARSET if (not c.isascii()) or c.isupper()}
    n_pairs = len(ascii_pool) ** 2
    # one full deck pass = ceil(4624 / 3 words-per-line) lines
    need = -(-n_pairs // 3)
    t1 = charset_thinpair_lines(need, 127)
    assert t1 == charset_thinpair_lines(need, 127)
    assert t1 != charset_thinpair_lines(need, 128)
    seen = set()
    for ln in t1:
        assert set(ln) - {" "} <= set(CHARSET)
        for w in ln.split(" "):
            assert len(w) == 3
            assert w[0] in wide
            assert w[1] in ascii_pool and w[2] in ascii_pool
            seen.add((w[1], w[2]))
    assert len(seen) == n_pairs  # exhaustive in one pass
    assert ("i", "(") in seen
    held = charset_thinpair_lines(200, 128)
    assert not set(t1) & set(held)


def test_pipeline_line_crops_match_spec_and_decode_exactly():
    """The gate's deployment-geometry sweep (added after the stage-5f
    rejection): pipeline_line_crops must reproduce the trained kernel's
    crop code faithfully — every fixture media line detected (zero
    layout misses), texts matching the media spec, and the SHIPPED
    artifact decoding every crop exactly (the gate's PASS condition on
    the current artifact at the smallest sf)."""
    import os

    import numpy as np
    import pytest

    from kiri_ocr_spark.operators import train as T

    samples, layout_misses = T.pipeline_line_crops("/root/testdata/sf0.001")
    assert layout_misses == []
    assert len(samples) > 500  # sf0.001 has 809 media lines
    # spec agreement: same (multiset of) line texts as the training-
    # geometry crop builder over the same sf dir
    tr, he = T.fixture_line_crops("/root/testdata/sf0.001")
    assert sorted(s[0] for s in samples) == sorted(s[0] for s in tr + he)
    # doc_id rides along for the trainer's heldout split
    assert all(isinstance(s[2], int) for s in samples)

    path = os.path.join(
        os.path.dirname(__file__), "..", "models", "trained_full.npz"
    )
    if not os.path.exists(path):
        pytest.skip("trained artifact not built")
    from kiri_ocr_spark.operators.model import ENCODE_CHUNK, load_model

    model = load_model(path)
    crops = [s[1] for s in samples]
    for i in range(0, len(crops), ENCODE_CHUNK):
        chunk = np.stack(crops[i : i + ENCODE_CHUNK]).astype(np.float32)
        for j, (t, _) in enumerate(
            model.ctc_greedy(model.encode(chunk, fp32=True))
        ):
            assert t == samples[i + j][0]
