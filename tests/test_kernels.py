"""Detection + recognition kernel unit tests (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kiri_ocr_spark.imaging.glyphs import GLYPH_H, SCALE, render_page
from kiri_ocr_spark.operators.components import (
    component_stats,
    connected_components,
    filter_components,
    iou,
    merge_overlapping,
    nms,
    relative_size_filter,
)
from kiri_ocr_spark.operators.detect import (
    binarize,
    detect_lines,
    group_into_lines,
    invert_if_dark,
    line_bands,
    otsu_threshold,
    reading_order,
)
from kiri_ocr_spark.operators.recognize import BLANK_ID, ctc_collapse


# --- connected components -------------------------------------------------


def test_cc_simple_shapes():
    img = np.zeros((10, 12), dtype=bool)
    img[1:3, 1:4] = True  # component 1
    img[6:9, 7:11] = True  # component 2
    img[4, 5] = True  # single pixel
    labels = connected_components(img)
    assert labels.max() == 3
    stats = component_stats(labels)
    assert len(stats) == 3
    areas = sorted(stats[:, 4].tolist())
    assert areas == [1, 6, 12]


def test_cc_diagonal_is_8_connected():
    img = np.eye(5, dtype=bool)
    labels = connected_components(img)
    assert labels.max() == 1  # one diagonal component under 8-connectivity


def test_cc_u_shape_merges():
    # U shape: two columns joined at the bottom — requires union-find merge
    img = np.zeros((5, 5), dtype=bool)
    img[0:5, 0] = True
    img[0:5, 4] = True
    img[4, 0:5] = True
    assert connected_components(img).max() == 1


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_cc_label_count_matches_flood_fill(seed):
    rng = np.random.RandomState(seed)
    img = rng.rand(18, 18) < 0.35
    labels = connected_components(img)
    # oracle: BFS flood fill
    seen = np.zeros_like(img, dtype=bool)
    count = 0
    for y in range(img.shape[0]):
        for x in range(img.shape[1]):
            if img[y, x] and not seen[y, x]:
                count += 1
                stack = [(y, x)]
                seen[y, x] = True
                while stack:
                    cy, cx = stack.pop()
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            ny, nx = cy + dy, cx + dx
                            if (
                                0 <= ny < img.shape[0]
                                and 0 <= nx < img.shape[1]
                                and img[ny, nx]
                                and not seen[ny, nx]
                            ):
                                seen[ny, nx] = True
                                stack.append((ny, nx))
    assert labels.max() == count
    # foreground/background agreement
    assert ((labels > 0) == img).all()


# --- box algebra ----------------------------------------------------------


def test_iou_known_values():
    a = np.array([0, 0, 10, 10], dtype=float)
    assert iou(a, a) == 1.0
    assert iou(a, np.array([20, 20, 5, 5], dtype=float)) == 0.0
    b = np.array([5, 0, 10, 10], dtype=float)
    assert abs(iou(a, b) - 50 / 150) < 1e-12


def test_nms_keeps_highest_confidence():
    boxes = np.array(
        [
            [0, 0, 10, 10, 0.9],
            [1, 1, 10, 10, 0.8],  # IoU > 0.5 with first -> suppressed
            [30, 30, 10, 10, 0.7],
        ],
        dtype=float,
    )
    kept = nms(boxes, 0.5)
    assert len(kept) == 2
    assert 0.9 in kept[:, 4] and 0.7 in kept[:, 4]


def test_merge_overlapping_hull_and_mean_conf():
    boxes = np.array([[0, 0, 10, 10, 1.0], [0, 5, 10, 10, 0.5]], dtype=float)
    merged = merge_overlapping(boxes, 0.3)
    assert len(merged) == 1
    x, y, w, h, c = merged[0]
    assert (x, y, w, h) == (0, 0, 10, 15)
    assert abs(c - 0.75) < 1e-12


def test_filter_components_reference_predicates():
    img_w, img_h = 100, 100
    stats = np.array(
        [
            [10, 10, 5, 10, 50],  # good
            [0, 0, 1, 10, 10],  # too narrow (w<2)
            [0, 0, 10, 3, 30],  # too short (h<6)
            [0, 0, 10, 60, 600],  # too tall (>0.5*img_h)
            [0, 0, 99, 10, 990],  # too wide (>0.98*img_w)
        ],
        dtype=np.int64,
    )
    kept = filter_components(stats, img_w, img_h)
    assert len(kept) == 1 and kept[0, 4] == 50


def test_relative_size_filter():
    stats = np.array(
        [[0, 0, 5, 10, 1], [0, 0, 5, 11, 1], [0, 0, 5, 1, 1], [0, 0, 5, 100, 1]],
        dtype=np.int64,
    )
    kept = relative_size_filter(stats)
    assert len(kept) == 2  # median ~10.5; 1 and 100 dropped


# --- detection stages -----------------------------------------------------


def test_otsu_bimodal():
    img = np.concatenate([np.zeros(500), np.full(500, 255)]).astype(np.uint8)
    t = otsu_threshold(img.reshape(20, 50))
    assert 0 <= t < 255
    mask = img.reshape(20, 50) <= t
    assert mask.sum() == 500


def test_invert_if_dark():
    light = np.full((10, 10), 200, dtype=np.uint8)
    dark = np.full((10, 10), 50, dtype=np.uint8)
    assert (invert_if_dark(light) == light).all()
    assert (invert_if_dark(dark) == 205).all()


def test_line_bands_and_detect_lines():
    page = render_page(["first line", "second one", "third"], scale=SCALE)
    ink = binarize(page)
    bands = line_bands(ink)
    assert len(bands) == 3
    for y0, y1 in bands:
        assert y1 - y0 == GLYPH_H * SCALE  # full row coverage contract
    boxes = detect_lines(page)
    assert len(boxes) == 3
    assert (np.diff(boxes[:, 1]) > 0).all()  # top-to-bottom order


def test_group_into_lines_tolerance():
    # components on two visual lines, jittered within 0.6*median_h
    stats = np.array(
        [[0, 0, 5, 10, 1], [10, 2, 5, 10, 1], [0, 30, 5, 10, 1], [10, 29, 5, 10, 1]],
        dtype=np.int64,
    )
    lines = group_into_lines(stats)
    assert [len(ln) for ln in lines] == [2, 2]
    # within-line x order
    assert lines[0][0][0] < lines[0][1][0]


def test_reading_order_row_major():
    # three boxes: two on top row (out of x order), one below
    boxes = np.array(
        [[50, 0, 10, 10, 1], [0, 1, 10, 10, 1], [0, 40, 10, 10, 1]], dtype=float
    )
    order = reading_order(boxes)
    assert order.tolist() == [1, 0, 2]


def test_orient_and_binarize_bit_identical_to_unfused():
    """The fused hot-path (one histogram pass for P2 invert + F10 Otsu)
    must equal binarize(invert_if_dark(...)) exactly, on both polarities,
    noise, and degenerate flat images — it exists for speed only."""
    from kiri_ocr_spark.operators.detect import orient_and_binarize

    from kiri_ocr_spark.fixtures import _tint_page
    from kiri_ocr_spark.imaging.png import decode_gray, encode_rgb

    rng = np.random.default_rng(3)
    grad = np.tile(np.arange(120, dtype=np.uint8) * 2, (40, 1))
    three_level = np.full((20, 30), 255, dtype=np.uint8)
    three_level[5:10, 5:20] = 0
    three_level[12:15, 5:20] = 128
    pages = [
        render_page(["fused hot path"], scale=SCALE),  # bilevel fast path
        render_page(["inverted", "page"], scale=SCALE, invert=True),
        # tinted-codec page: the OTHER bilevel family (bg 239)
        decode_gray(encode_rgb(_tint_page(render_page(["tinted page"], scale=SCALE)))),
        (rng.random((40, 120)) * 255).astype(np.uint8),
        grad,  # smooth non-bilevel: histogram path
        three_level,  # almost-bilevel: must NOT take the fast path
        255 - three_level,
        np.full((16, 16), 255, dtype=np.uint8),
        np.zeros((16, 16), dtype=np.uint8),
    ]
    for p in pages:
        g0 = invert_if_dark(p)
        m0 = binarize(g0)
        g1, m1 = orient_and_binarize(p)
        assert (g0 == g1).all() and (m0 == m1).all()


# --- CTC ------------------------------------------------------------------


def test_ctc_collapse_laws():
    # decode(blank-extended repeats) == collapsed (model.py:120-144 law)
    ids = np.array([0, 3, 3, 0, 3, 4, 4, 0, 0, 5])
    assert ctc_collapse(ids).tolist() == [3, 3, 4, 5]
    assert ctc_collapse(np.array([])).size == 0
    assert ctc_collapse(np.array([0, 0, 0])).size == 0


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(1, 5), min_size=0, max_size=12))
def test_ctc_roundtrip_property(seq):
    """Encoding any sequence as blank-separated doubled frames decodes back."""
    frames: list[int] = []
    for s in seq:
        frames.extend([s, s, BLANK_ID])
    got = ctc_collapse(np.array(frames, dtype=np.int64)) if frames else np.array([])
    assert list(got) == seq


# --- full kernel ----------------------------------------------------------


def test_reading_order_db_variant_sorts_by_left_edge():
    from kiri_ocr_spark.operators.detect import reading_order, reading_order_db

    # two boxes on one visual line: A is wide starting left but has center
    # RIGHT of B's center; B is narrow on the right half
    boxes = np.array(
        [
            [0.0, 0.0, 90.0, 10.0, 1.0],   # center x = 45
            [50.0, 1.0, 20.0, 10.0, 1.0],  # center x = 60 > 45, left edge 50
            [0.0, 40.0, 10.0, 10.0, 1.0],  # second line
        ]
    )
    # W1 sorts within line by CENTER: A(45) then B(60)
    assert reading_order(boxes).tolist() == [0, 1, 2]
    # W2 sorts by LEFT EDGE: A(0) then B(50) — same here; flip to expose:
    boxes2 = boxes.copy()
    boxes2[0, 0], boxes2[0, 2] = 30.0, 90.0   # A: left 30, center 75
    boxes2[1, 0], boxes2[1, 2] = 40.0, 20.0   # B: left 40, center 50
    assert reading_order(boxes2).tolist() == [1, 0, 2]      # by center
    assert reading_order_db(boxes2).tolist() == [0, 1, 2]   # by left edge


def test_bbox_hull():
    from kiri_ocr_spark.operators.detect import bbox_hull

    boxes = np.array([[0, 0, 10, 10, 0.8], [5, 5, 10, 10, 0.4]], dtype=float)
    hull = bbox_hull(boxes)
    assert hull[:4].tolist() == [0.0, 0.0, 15.0, 15.0]
    assert abs(hull[4] - 0.6) < 1e-12


def test_group_blocks_vertical_gap_and_overlap():
    from kiri_ocr_spark.operators.detect import group_blocks

    # three tight lines, a big gap, then one more; all x-aligned
    lines = np.array(
        [
            [0, 0, 100, 10, 1.0],
            [0, 14, 100, 10, 1.0],
            [0, 28, 100, 10, 1.0],
            [0, 100, 100, 10, 1.0],
        ],
        dtype=float,
    )
    blocks = group_blocks(lines)
    assert [b.tolist() for b in blocks] == [[0, 1, 2], [3]]
    # same gaps but no x-overlap -> separate blocks
    lines2 = lines.copy()
    lines2[1, 0] = 200.0
    blocks2 = group_blocks(lines2[:2])
    assert len(blocks2) == 2


def _truncated_idat(png: bytes) -> bytes:
    """``png`` cut in the middle of its IDAT payload."""
    import struct

    pos = png.index(b"IDAT") + 4
    (length,) = struct.unpack(">I", png[pos - 8 : pos - 4])
    return png[: pos + max(1, length // 2)]


def _oversize_ihdr() -> bytes:
    """A PNG whose IHDR declares 60000x60000 pixels, over the pixel cap."""
    import struct
    import zlib

    from kiri_ocr_spark.imaging.png import _SIGNATURE, _chunk

    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(1 << 16)))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("det_method", ["legacy", "db", "craft"])
@pytest.mark.parametrize("recognizer", ["template", "trained", "beam"])
def test_ocr_kernel_decodes_and_quarantines(recognizer, det_method):
    """pipeline._ocr_batches, the media kernel of every extract_spans*
    query: exact decode of plain, tinted and inverted pages whichever
    recognizer and detector run, and one quarantine contract (None
    payload / corrupt PNG -> text NULL, conf 0, n_lines -1) — one corrupt
    payload must never fail the task."""
    import pandas as pd

    from kiri_ocr_spark.fixtures import _tint_page
    from kiri_ocr_spark.imaging.png import encode_gray, encode_rgb
    from kiri_ocr_spark.pipeline import _ocr_batches
    from kiri_ocr_spark.queries import trained_model_path

    plain = encode_gray(render_page(["the fast key"], scale=SCALE))
    tinted = encode_rgb(_tint_page(render_page(["order sort", "table"], scale=SCALE)))
    inverted = encode_gray(render_page(["the fast key"], scale=SCALE, invert=True))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 1, 2, 2, 3, 4, 4],
            "offset": [0, 1, 0, 1, 0, 0, 1],
            "kind": ["media"] * 7,
            "media_ref": ["a", "b", "c", "d", "e", "f", "g"],
            "png_bytes": [
                plain,
                tinted,
                None,
                b"\x89PNG\r\n\x1a\ngarbage",
                inverted,
                _truncated_idat(plain),
                _oversize_ihdr(),
            ],
        }
    )
    model_path = None if recognizer == "template" else trained_model_path()
    decode_method = "beam" if recognizer == "beam" else "ctc"
    kernel = _ocr_batches(model_path, det_method, decode_method)
    (out,) = list(kernel([pdf]))
    rows = {r.media_ref: r for r in out.itertuples()}
    for ref in ("a", "e"):
        assert rows[ref].text == "the fast key" and rows[ref].n_lines == 1
    assert rows["b"].text == "order sort\ntable" and rows["b"].n_lines == 2
    assert rows["b"].conf > 0.5
    if recognizer == "template":
        assert rows["a"].conf == rows["e"].conf == 1.0
    for ref in ("c", "d", "f", "g"):
        assert rows[ref].text is None
        assert rows[ref].conf == 0.0
        assert rows[ref].n_lines == -1
    assert (out["kernel_us"] >= 0).all()


@pytest.mark.parametrize(
    "recognizer,det_method", [("template", "db"), ("trained", "legacy")]
)
def test_ocr_line_rows_one_row_per_line(recognizer, det_method):
    """pipeline.ocr_line_rows, the kernel of model_decode_trained
    (trained, legacy) and media_text_db/_craft (template, neural): one
    row per recognized line with line_no 0..n-1 in reading order; a
    garbage payload yields no rows and no exception."""
    import pandas as pd

    from kiri_ocr_spark.imaging.png import encode_gray
    from kiri_ocr_spark.pipeline import ocr_line_rows
    from kiri_ocr_spark.queries import trained_model_path

    pdf = pd.DataFrame(
        {
            "media_ref": ["two", "one", "bad"],
            "png_bytes": [
                encode_gray(render_page(["order sort", "table"], scale=SCALE)),
                encode_gray(render_page(["the fast key"], scale=SCALE)),
                b"\x89PNG\r\n\x1a\ngarbage",
            ],
        }
    )
    model_path = None if recognizer == "template" else trained_model_path()
    out = pd.concat(list(ocr_line_rows(model_path, det_method)([pdf])))
    assert list(out.columns) == ["media_ref", "line_no", "text"]
    assert sorted(zip(out.media_ref, out.line_no, out.text)) == [
        ("one", 0, "the fast key"),
        ("two", 0, "order sort"),
        ("two", 1, "table"),
    ]


def _routed_kernel(name: str):
    """(mapInPandas kernel, per_page) for each PNG kernel outside the
    page kernel: per_page kernels keep a quarantined page's row, per-line
    kernels drop it."""
    from kiri_ocr_spark import queries
    from kiri_ocr_spark.operators import multimodal
    from kiri_ocr_spark.streaming.extract import _step_event_batches

    return {
        "detect": (queries._detect_batches, True),
        "facade_db": (queries._facade_detect_batches("db"), True),
        "facade_craft": (queries._facade_detect_batches("craft"), True),
        "word_seg": (queries._word_seg_batches, False),
        "finder": (queries._finder_batches, True),
        "model_decode": (queries._model_decode_batches, True),
        "step_events": (_step_event_batches(None), False),
        "dhash": (multimodal._dhash_batches, True),
    }[name]


@pytest.mark.parametrize(
    "name",
    [
        "detect",
        "facade_db",
        "facade_craft",
        "word_seg",
        "finder",
        "model_decode",
        "step_events",
        "dhash",
    ],
)
def test_routed_kernels_quarantine_bad_pages(name):
    """Every PNG kernel reads pages through page.map_pages: a NULL,
    garbage or truncated-IDAT payload quarantines its own page without
    an exception, and the good page's rows do not change. A per-page
    output keeps the bad page's row (n_lines -1, every other measure
    NULL); a per-line output emits no rows for it."""
    import pandas as pd

    from kiri_ocr_spark.imaging.png import encode_gray

    kernel, per_page = _routed_kernel(name)
    good = encode_gray(render_page(["order sort", "table"], scale=SCALE))
    blobs = [good, None, b"\x89PNG\r\n\x1a\ngarbage", _truncated_idat(good)]
    refs = ["good", "null", "garbage", "truncated"]

    def run(n: int) -> pd.DataFrame:
        pdf = pd.DataFrame(
            {
                "media_ref": refs[:n],
                "png_bytes": blobs[:n],
                "doc_id": range(n),
                "region": [0] * n,
                "png": blobs[:n],
            }
        )
        return pd.concat(list(kernel([pdf])), ignore_index=True)

    alone, out = run(1), run(4)
    assert len(alone) > 0
    key = "media_ref" if "media_ref" in out.columns else "doc_id"
    good_key = alone[key].iloc[0]
    pd.testing.assert_frame_equal(
        out[out[key] == good_key].reset_index(drop=True), alone
    )
    bad = out[out[key] != good_key]
    if not per_page:
        assert bad.empty
        return
    assert sorted(bad[key]) == sorted(refs[1:])
    for col in bad.columns:
        if col == "n_lines":
            assert (bad[col] == -1).all()
        elif col != key:
            assert bad[col].isna().all(), col


def test_ocr_stream_rejects_unknown_mode():
    """OCR.extract_text_stream_chars selects regions like process_document
    does: an unknown mode raises instead of streaming word regions."""
    from kiri_ocr_spark.ocr import OCR

    page = render_page(["the fast key"], scale=SCALE)
    ocr = OCR()
    with pytest.raises(ValueError):
        ocr.process_document(page, mode="bogus")
    with pytest.raises(ValueError):
        list(ocr.extract_text_stream_chars(page, mode="bogus"))


def test_trained_kernel_mid_page_quarantine_rolls_back_crops(monkeypatch):
    """Advisor r5 (pipeline.py quarantine contract): a page that fails
    AFTER some of its line crops were appended must roll those crops
    back — otherwise the stacked decode assigns the partial text to the
    quarantined row, overwriting its text=NULL dead-letter marker while
    n_lines stays -1 (an inconsistent row the health query can't see)."""
    import pandas as pd

    from kiri_ocr_spark.imaging.glyphs import SCALE, render_page
    from kiri_ocr_spark.imaging.png import encode_gray
    from kiri_ocr_spark.operators import detect as detect_mod
    from kiri_ocr_spark.pipeline import _ocr_batches
    from kiri_ocr_spark.queries import trained_model_path

    two_line = encode_gray(render_page(["order sort", "table"], scale=SCALE))
    one_line = encode_gray(render_page(["the fast key"], scale=SCALE))

    real_pad = detect_mod.pad_training_margins
    calls = {"n": 0}

    def exploding_pad(region):
        calls["n"] += 1
        if calls["n"] == 2:  # second line of the FIRST page: mid-page
            raise ValueError("simulated degenerate crop")
        return real_pad(region)

    monkeypatch.setattr(detect_mod, "pad_training_margins", exploding_pad)
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "offset": [0, 0],
            "kind": ["media"] * 2,
            "media_ref": ["a", "b"],
            "png_bytes": [two_line, one_line],
        }
    )
    (out,) = list(_ocr_batches(trained_model_path())([pdf]))
    rows = {r.media_ref: r for r in out.itertuples()}
    # quarantined page: full dead-letter contract, no partial text
    assert rows["a"].text is None
    assert rows["a"].conf == 0.0 and rows["a"].n_lines == -1
    # the following page is untouched by the rollback
    assert rows["b"].text == "the fast key" and rows["b"].n_lines == 1


def test_pad_training_margins_uses_crop_background():
    """Advisor r4: neural-path pad margins must carry the crop's OWN
    background luma (255 plain, 239 tinted-codec pages), not hardcoded
    255 — the trained artifact's preprocessing contract."""
    from kiri_ocr_spark.imaging.glyphs import PAD_X, PAD_Y
    from kiri_ocr_spark.operators.detect import pad_training_margins

    plain = np.full((10, 20), 255, dtype=np.uint8)
    plain[3:7, 5:15] = 0
    out = pad_training_margins(plain)
    assert out.shape == (10 + 2 * PAD_Y, 20 + 2 * PAD_X)
    assert out[0, 0] == 255

    tinted = np.full((10, 20), 239, dtype=np.uint8)
    tinted[3:7, 5:15] = 27
    out = pad_training_margins(tinted)
    assert out[0, 0] == 239  # background, not 255
    assert out[PAD_Y + 3, PAD_X + 5] == 27  # content preserved

    # advisor r5: an ALL-INK crop (solid block glyph) has no background
    # pixel — its max is ink luma; the pad must fall back to plain 255,
    # not pad with ink
    solid = np.full((10, 20), 27, dtype=np.uint8)
    out = pad_training_margins(solid)
    assert out[0, 0] == 255
    assert out[PAD_Y, PAD_X] == 27
