"""Multi-method finders (F14/F15/U1/P7/P8), metrics (A3), CTC forward
(F22), overlay/report sinks (S9/S10)."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from kiri_ocr_spark.imaging.glyphs import render_page
from kiri_ocr_spark.imaging.overlay import conf_tier, draw_overlay, html_report
from kiri_ocr_spark.operators.detect import binarize, invert_if_dark
from kiri_ocr_spark.operators.finders import (
    estimate_text_metrics,
    gradient_components,
    mser_regions,
    multi_method_candidates,
)
from kiri_ocr_spark.operators.recognize import CtcPrefixScorer, ctc_forward_score


@pytest.fixture(scope="module")
def page():
    return render_page(["hello world", "spark graft engine"])


def test_mser_finds_text_regions(page):
    cands = mser_regions(page)
    assert len(cands) > 0
    # candidates sit inside the page and have sane areas
    assert (cands[:, 0] >= 0).all() and (cands[:, 1] >= 0).all()
    areas = cands[:, 2] * cands[:, 3]
    assert (areas >= 30).all() and (areas <= 14400).all()


def test_mser_blank_page_empty():
    blank = np.full((60, 200), 255, dtype=np.uint8)
    assert len(mser_regions(blank)) == 0


def test_gradient_components_on_text(page):
    cands = gradient_components(page)
    assert len(cands) > 0
    aspects = cands[:, 2] / np.maximum(cands[:, 3], 1)
    assert ((aspects > 0.05) & (aspects < 15)).all()


def test_multi_method_union_dedups(page):
    gray = invert_if_dark(page)
    ink = binarize(gray)
    merged = multi_method_candidates(gray, ink)
    assert len(merged) > 0
    # NMS post-condition: no surviving pair overlaps > 0.5 IoU
    from kiri_ocr_spark.operators.components import iou

    for a, b in itertools.combinations(range(min(len(merged), 40)), 2):
        assert iou(merged[a, :4], merged[b, :4]) <= 0.5


def test_estimate_text_metrics():
    stats = np.array([[0, 0, 10, 20, 1], [5, 5, 12, 22, 1], [9, 9, 11, 100, 1]])
    med_h, med_w, pad = estimate_text_metrics(stats)
    assert med_h == 22 and med_w == 11
    assert pad == pytest.approx(max(2.0, 0.15 * 22))
    assert estimate_text_metrics(np.zeros((0, 5)))[2] == 2.0


# --- F22 CTC forward --------------------------------------------------------


def _brute_force_ctc(logp: np.ndarray, target: list[int], blank: int = 0) -> float:
    """Sum over ALL alignments that collapse to target (tiny T only)."""
    T, V = logp.shape
    total = -np.inf
    for path in itertools.product(range(V), repeat=T):
        ids = np.array(path)
        keep = np.ones(T, dtype=bool)
        keep[1:] = ids[1:] != ids[:-1]
        collapsed = ids[keep]
        collapsed = collapsed[collapsed != blank]
        if collapsed.tolist() == target:
            total = np.logaddexp(total, float(logp[np.arange(T), ids].sum()))
    return total


def test_ctc_forward_matches_brute_force():
    rng = np.random.default_rng(11)
    for T, V in ((3, 3), (4, 3), (5, 2)):
        logits = rng.normal(size=(T, V))
        logp = logits - np.log(np.exp(logits).sum(axis=1, keepdims=True))
        targets = [[1], [1, 1]] + ([[1, 2], [2, 1, 2]] if V > 2 else [[1, 1, 1]])
        for target in targets:
            got = ctc_forward_score(logp, np.array(target))
            want = _brute_force_ctc(logp, target)
            if np.isinf(want):
                assert np.isinf(got)
            else:
                assert got == pytest.approx(want, rel=1e-9)


def test_ctc_forward_edge_cases():
    logp = np.log(np.full((3, 2), 0.5))
    assert ctc_forward_score(logp, np.array([], dtype=int)) == pytest.approx(
        3 * np.log(0.5)
    )
    # target longer than frames can align -> -inf
    assert np.isinf(ctc_forward_score(logp, np.array([1, 1, 1])))


def _rand_lattice(rng, T, V):
    logits = rng.normal(size=(T, V))
    return logits - np.log(np.exp(logits).sum(axis=1, keepdims=True))


def test_ctc_prefix_scorer_bitexact_vs_full_dp():
    """Law: CtcPrefixScorer.score(y) == ctc_forward_score(lp, y) to the
    BIT (same logaddexp association order, frame-sequential columns),
    including the dedicated empty-target sum and -inf unalignable
    prefixes — the contract the beam CTC-fusion hot path relies on."""
    rng = np.random.default_rng(7)
    for T, V in ((6, 4), (9, 5), (17, 7)):
        logp = _rand_lattice(rng, T, V)
        scorer = CtcPrefixScorer(logp)
        assert scorer.score(()) == ctc_forward_score(logp, np.array([], dtype=int))
        prefixes = [
            tuple(int(v) for v in rng.integers(1, V, size=int(rng.integers(1, T + 3))))
            for _ in range(12)
        ]
        # shared-prefix growth exercises the memoized incremental path
        prefixes += [prefixes[0][:k] for k in range(1, len(prefixes[0]))]
        # repeated labels exercise the no-skip transition
        prefixes += [(1, 1), (1, 1, 1), (2, 2, 1)]
        for p in prefixes:
            want = ctc_forward_score(logp, np.array(p, dtype=int))
            got = scorer.score(p)
            if np.isinf(want):
                assert np.isinf(got)
            else:
                assert got == want  # bit-exact, not approx


def test_ctc_prefix_scorer_batch_matches_scalar():
    """scores_batch (one vectorized sweep across a beam step's candidate
    extensions) is bit-equal to the scalar extension path and the full DP."""
    rng = np.random.default_rng(23)
    logp = _rand_lattice(rng, 11, 6)
    scorer = CtcPrefixScorer(logp)
    parents = [(), (1,), (2, 3), (4, 4), (5, 1, 2)]
    for p in parents:
        scorer.score(p)
    exts = [p + (lab,) for p in parents for lab in (1, 2, 5)]
    # include an already-memoized key and a depth-2 fallback key
    scorer.score(exts[0])
    exts.append((1, 2, 3, 4))  # parent (1,2,3) unmemoized -> scalar fallback
    got = scorer.scores_batch(exts)
    fresh = CtcPrefixScorer(logp)
    for key, g in zip(exts, got):
        want = ctc_forward_score(logp, np.array(key, dtype=int))
        if np.isinf(want):
            assert np.isinf(g) and np.isinf(fresh.score(key))
        else:
            assert g == want
            assert fresh.score(key) == want


# --- S9/S10 sinks -------------------------------------------------------------


def test_overlay_draws_tiered_borders(page):
    boxes = np.array([[5, 5, 30, 10, 0.95], [40, 5, 30, 10, 0.75], [5, 30, 30, 10, 0.2]])
    out = draw_overlay(page, boxes)
    assert out.shape == page.shape
    assert out[5, 6] == 60 and out[5, 41] == 150 and out[30, 6] == 230
    assert (draw_overlay(page, np.zeros((0, 5))) == page).all()


def test_conf_tiers_match_reference_cutoffs():
    assert conf_tier(0.95) == 0 and conf_tier(0.71) == 1 and conf_tier(0.7) == 2


def test_html_report_contains_rows_and_stats():
    html = html_report(
        [
            {"text": "hi <b>", "confidence": 0.95, "box": (1, 2, 3, 4)},
            {"text": "lo", "confidence": 0.1, "box": (5, 6, 7, 8)},
        ]
    )
    assert "2 regions" in html and "high: 1" in html and "low: 1" in html
    assert "hi &lt;b&gt;" in html  # escaped


# --- full finder path: construction-known line counts -------------------------


def test_finder_path_line_counts_on_known_pages():
    """Regression for the round-1 ~12% line-count miss: pages whose glyphs
    mix short (h~12) and tall (h~20, ascender/descender) characters must
    not over-split. Two fixes under test: the adaptive grouping threshold
    max(0.6*median_h, 0.5*mean line height) (legacy:771-775) and the
    padded-hull vertical-overlap merge of line boxes (legacy:796-832)."""
    from kiri_ocr_spark.imaging.glyphs import render_page
    from kiri_ocr_spark.operators.components import (
        filter_components,
        relative_size_filter,
    )
    from kiri_ocr_spark.operators.detect import (
        binarize,
        group_into_lines,
        invert_if_dark,
        line_boxes_from_groups,
    )
    from kiri_ocr_spark.operators.finders import (
        estimate_text_metrics,
        multi_method_candidates,
    )

    # tall glyphs (k, l, g, y, j) mixed with short ones — the round-1 miss
    cases = [
        (["quickly jog"], 1),
        (["mixed TALL gyj", "plain second"], 2),
        (["hello world"], 1),
        (["one klg line", "two jyp line"], 2),
    ]
    for texts, expected in cases:
        gray = invert_if_dark(render_page(texts))
        ink = binarize(gray)
        kept = multi_method_candidates(gray, ink)
        if len(kept):
            kept = filter_components(kept, gray.shape[1], gray.shape[0])
            kept = relative_size_filter(kept)
        groups = group_into_lines(kept)
        _, _, pad = estimate_text_metrics(kept)
        lboxes = line_boxes_from_groups(
            groups, gray.shape[1], gray.shape[0], padding=pad
        )
        assert len(lboxes) == expected, (texts, len(lboxes))
