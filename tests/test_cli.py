"""CLI parity surface (__main__.py): extract sinks + batch OCR."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from kiri_ocr_spark.imaging.glyphs import render_page
from kiri_ocr_spark.imaging.png import decode_gray, encode_gray

REPO = "/root/repo"


@pytest.fixture(scope="module")
def page_png(tmp_path_factory):
    p = tmp_path_factory.mktemp("cli") / "page.png"
    p.write_bytes(encode_gray(render_page(["hello spark world", "second line"])))
    return str(p)


def run_cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "kiri_ocr_spark", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
    )


def test_extract_writes_reference_sinks(page_png, tmp_path):
    out = str(tmp_path / "out")
    r = run_cli("extract", page_png, "--out-dir", out, "--json", "--overlay",
                "--html")
    assert r.returncode == 0
    assert r.stdout.strip() == "hello spark world\nsecond line"
    assert (tmp_path / "out" / "extracted_text.txt").read_text() == (
        "hello spark world\nsecond line"
    )
    results = json.loads((tmp_path / "out" / "ocr_results.json").read_text())
    assert [r["text"] for r in results] == ["hello spark world", "second line"]
    assert results[0]["line_number"] == 1
    overlay = decode_gray((tmp_path / "out" / "boxes.png").read_bytes())
    assert overlay.shape == decode_gray(open(page_png, "rb").read()).shape
    assert "2 regions" in (tmp_path / "out" / "report.html").read_text()


def test_extract_rejects_garbage(tmp_path):
    bad = tmp_path / "bad.png"
    bad.write_bytes(b"not a png")
    r = run_cli("extract", str(bad))
    assert r.returncode != 0
    assert "not a PNG stream" in r.stderr


def test_missing_subcommand_usage():
    r = run_cli()
    assert r.returncode != 0
    assert "required: cmd" in r.stderr


def test_extract_method_switch(page_png, tmp_path):
    """--method routes through the facade: legacy recognizes exactly, and
    craft/db run the in-repo numpy forwards for real (no fallback
    warning) — the reference's method contract with bundled weights.
    Hand-constructed weights give coarser regions than trained ones, so
    the neural methods assert regions-found, not text exactness (the
    oracled exactness path is 'projection'/'legacy')."""
    r = run_cli(
        "extract", page_png, "--out-dir", str(tmp_path / "leg"), "--method", "legacy"
    )
    assert r.returncode == 0
    assert r.stdout.strip().splitlines() == ["hello spark world", "second line"]
    for method in ("craft", "db"):
        r2 = run_cli(
            "extract",
            page_png,
            "--out-dir",
            str(tmp_path / method),
            "--json",
            "--method",
            method,
        )
        assert r2.returncode == 0
        assert "falling back to legacy" not in (r2.stderr or "")
        results = json.loads(
            (tmp_path / method / "ocr_results.json").read_text()
        )
        assert len(results) >= 1  # the neural path found regions
        assert all(r["det_confidence"] >= 0.5 for r in results)


def test_batch_binaryfile_scan_ocr(tmp_path):
    """S1 surface: spark.read.format('binaryFile') over a PNG directory ->
    the same Arrow-batched OCR kernel -> parquet of (path, text, conf)."""
    png_dir = tmp_path / "pngs"
    png_dir.mkdir()
    pages = {
        "a.png": "alpha beta",
        "b.png": "gamma delta line",
        "c.png": "zzz",
    }
    for name, text in pages.items():
        (png_dir / name).write_bytes(encode_gray(render_page([text])))
    out = str(tmp_path / "out_parquet")
    r = run_cli("batch", str(png_dir), "--out", out)
    assert r.returncode == 0, r.stderr[-800:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["images"] == 3

    import duckdb

    got = {
        row[0].rsplit("/", 1)[-1]: row[1]
        for row in duckdb.connect()
        .execute(f"SELECT media_ref, text FROM '{out}/*.parquet'")
        .fetchall()
    }
    assert got == pages


@pytest.mark.parametrize(
    "flags, model, detector",
    [
        ([], "trained", "legacy"),
        (["--recognizer", "template"], None, "legacy"),
        (["--detector", "db"], "trained", "db"),
        (["--recognizer", "template", "--detector", "craft"], None, "craft"),
    ],
)
def test_batch_flags_reach_the_ocr_kernel(monkeypatch, capsys, flags, model, detector):
    """`batch --recognizer/--detector` pick the page kernel's mode: the
    parsed flags arrive as _ocr_batches(model_path, det_method), template
    meaning no weights. The Spark session is a stand-in; no job runs."""
    from unittest import mock

    import pyspark.sql.functions as F

    from kiri_ocr_spark import __main__ as cli
    from kiri_ocr_spark import pipeline, session
    from kiri_ocr_spark.operators import model as model_module

    seen = []
    fake = mock.MagicMock()
    fake.read.parquet.return_value.count.return_value = 0
    monkeypatch.setattr(session, "get_spark", lambda **kw: fake)
    monkeypatch.setattr(F, "col", mock.MagicMock())
    monkeypatch.setattr(F, "lit", mock.MagicMock())
    monkeypatch.setattr(model_module, "trained_model_path", lambda: "trained")
    monkeypatch.setattr(pipeline, "_ocr_batches", lambda *a: seen.append(a))
    assert cli.main(["batch", "pngs", "--out", "out", *flags]) == 0
    assert seen == [(model, detector)]
    assert json.loads(capsys.readouterr().out) == {"images": 0, "out": "out"}


def test_batch_rejects_unknown_modes():
    for flag in (["--recognizer", "beam"], ["--detector", "projection"]):
        r = run_cli("batch", "pngs", "--out", "out", *flag)
        assert r.returncode == 2 and "invalid choice" in r.stderr


def test_ocr_class_reference_api_parity(tmp_path):
    """Drop-in OCR class (core.py:40-1160): extract_text reproduces the
    page text on the exactness path, process_document carries the
    reference's result-dict contract, words mode segments, the streaming
    chars generator reassembles, and decode-method aliases normalize."""
    import numpy as np
    import pytest

    from kiri_ocr_spark.imaging.glyphs import render_page
    from kiri_ocr_spark.imaging.png import encode_gray
    from kiri_ocr_spark.ocr import OCR

    page = render_page(["hello spark world", "second line here"])
    p = tmp_path / "page.png"
    p.write_bytes(encode_gray(page))

    ocr = OCR(det_method="legacy", decode_method="fast")
    text, results = ocr.extract_text(str(p))
    assert text == "hello spark world\nsecond line here"
    assert [r["line_number"] for r in results] == [1, 2]
    for r in results:
        assert set(r) == {"box", "text", "confidence", "det_confidence",
                          "line_number"}
        assert r["confidence"] == 1.0  # exactness path on clean renders

    # words mode: one region per word, same text after line regrouping
    wtext, wresults = ocr.extract_text(str(p), mode="words")
    assert wtext == text
    assert len(wresults) == 6

    # ndarray input works like a path
    assert ocr.extract_text(page)[0] == text

    # streaming chars: tokens reassemble; flags fire exactly once
    chunks = list(ocr.extract_text_stream_chars(str(p)))
    assert chunks[-1]["document_finished"]
    assert sum(c["region_start"] for c in chunks) == 2
    got = "".join(c["token"] for c in chunks if not c["region_start"])
    assert got == text.replace("\n", "")
    assert chunks[-1]["cumulative_text"] == text

    # decode-method normalization mirrors the reference's aliases + error
    assert OCR(decode_method="ctc").decode_method == "ctc"
    assert OCR(decode_method="accurate").decode_method == "decoder"
    with pytest.raises(ValueError, match="decode_method"):
        OCR(decode_method="turbo")

    # decoder/beam paths run the transformer (gibberish without trained
    # weights, but deterministic and contract-shaped)
    beam = OCR(det_method="legacy", decode_method="beam")
    r1 = beam.process_document(str(p))
    r2 = beam.process_document(str(p))
    assert [x["text"] for x in r1] == [x["text"] for x in r2]
    assert all(0.0 <= x["confidence"] <= 1.0 for x in r1)


def test_facade_words_and_blocks_levels():
    """detector facade parity: words fall back to the legacy component
    path for every method (reference detector/__init__.py:293-297);
    blocks group the method's lines via the legacy block logic."""
    from kiri_ocr_spark.imaging.glyphs import render_page
    from kiri_ocr_spark.operators.facade import TextDetector

    page = render_page(["alpha beta", "gamma delta epsilon"])
    det = TextDetector(method="legacy")
    words = det.detect_words(page)
    assert len(words) == 5
    blocks = det.detect_blocks(page)
    assert len(blocks) >= 1
    # the block hull spans both lines
    x, y, w, h = blocks[0]
    assert h > page.shape[0] * 0.4


def test_facade_characters_and_hierarchy():
    """Remaining facade levels (reference detector/__init__.py:323-329):
    characters are the filtered candidate components; detect_all nests
    blocks -> lines -> words with every word assigned to its line."""
    from kiri_ocr_spark.imaging.glyphs import render_page
    from kiri_ocr_spark.operators.facade import TextDetector

    page = render_page(["ab cd", "efg h"])
    det = TextDetector(method="legacy")
    chars = det.detect_characters(page)
    assert len(chars) >= 7  # at least one component per glyph
    tree = det.detect_all(page)
    assert len(tree) >= 1
    n_lines = sum(len(b["lines"]) for b in tree)
    n_words = sum(len(ln["words"]) for b in tree for ln in b["lines"])
    assert n_lines == 2 and n_words == 4
    for b in tree:
        for ln in b["lines"]:
            for w in ln["words"]:
                wx, wy, ww, wh = w["bbox"]
                lx, ly, lw, lh = ln["bbox"]
                assert lx <= wx + ww / 2 <= lx + lw


def test_ocr_trained_artifact_neural_ctc_exact():
    """With the committed in-sandbox-trained weights, decode_method='fast'
    routes through the MODEL's CTC head (the reference's fast path) and
    must reproduce the page text exactly — including words that never
    appear in the training corpus (glyph classification, not token
    memorization)."""
    import os

    import pytest

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "models",
        "trained_small.npz",
    )
    if not os.path.exists(path):
        pytest.skip("trained artifact not built (scripts/train_model.py)")
    from kiri_ocr_spark.imaging.glyphs import SCALE
    from kiri_ocr_spark.ocr import OCR

    page = render_page(["hello spark world", "second line"], scale=SCALE)
    png = encode_gray(page)
    img = tmp = None
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".png", delete=False) as f:
        f.write(png)
        tmp = f.name
    try:
        ocr = OCR(model_path=path, decode_method="fast")
        text, results = ocr.extract_text(tmp)
        assert text == "hello spark world\nsecond line"
        assert all(r["confidence"] > 0.9 for r in results)
        # no model_path -> the template construction still answers exactly
        assert OCR(decode_method="fast").extract_text(tmp)[0] == text
    finally:
        os.unlink(tmp)


def test_ocr_trained_accurate_and_beam_equal_direct_decode(tmp_path):
    """decode_method='accurate' and 'beam' with trained weights return,
    bit for bit, greedy_decode / beam_decode of the region's fp32 encode:
    the OCR class decodes one region per call through
    model.decode_crops_memo, whose single-crop chunk is that encode."""
    import os

    import numpy as np

    path = os.path.join(REPO, "models", "trained_small.npz")
    if not os.path.exists(path):
        pytest.skip("trained artifact not built (scripts/train_model.py)")
    from kiri_ocr_spark.imaging.glyphs import SCALE
    from kiri_ocr_spark.ocr import OCR
    from kiri_ocr_spark.operators.page import line_crop, tight_box

    png = tmp_path / "page.png"
    png.write_bytes(
        encode_gray(render_page(["hello spark world", "second line"], scale=SCALE))
    )
    for mode in ("accurate", "beam"):
        ocr = OCR(model_path=path, decode_method=mode)
        results = ocr.process_document(str(png))
        gray, ink, boxes = ocr._regions(str(png), "lines")
        assert len(results) == len(boxes) == 2
        decode = ocr.model.greedy_decode if mode == "accurate" else ocr.model.beam_decode
        for r, box in zip(results, boxes):
            crop = line_crop(gray, tight_box(ink, box))
            mem = ocr.model.encode(crop[None].astype(np.float32), fp32=True)[0]
            assert (r["text"], r["confidence"]) == decode(mem)


def test_extract_with_trained_model_flag(page_png, tmp_path):
    """CLI --model routes recognition through the trained neural decode
    (exact on this page, including out-of-training-vocabulary words)."""
    import os

    import pytest as _pytest

    model = os.path.join(REPO, "models", "trained_small.npz")
    if not os.path.exists(model):
        _pytest.skip("trained artifact not built (scripts/train_model.py)")
    r = run_cli(
        "extract", page_png, "--out-dir", str(tmp_path / "tm"),
        "--model", model, "--decode", "fast", "--json",
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert r.stdout.strip().splitlines() == ["hello spark world", "second line"]
    results = json.loads((tmp_path / "tm" / "ocr_results.json").read_text())
    assert all(x["confidence"] > 0.9 for x in results)


def test_extract_model_keeps_the_method_line_finder(tmp_path):
    """--model picks the recognizer only: with the default --method
    (projection) the trained decode reads the same projection boxes as
    the template path, and --method legacy still selects the facade's
    multi-method finder."""
    import os

    from kiri_ocr_spark.imaging.glyphs import SCALE
    from kiri_ocr_spark.operators.model import trained_model_path

    png = tmp_path / "page.png"
    png.write_bytes(
        encode_gray(render_page(["hello spark world", "second line"], scale=SCALE))
    )

    def extract(name, *flags):
        r = run_cli("extract", str(png), "--out-dir", str(tmp_path / name),
                    "--json", *flags)
        assert r.returncode == 0, r.stderr[-500:]
        return json.loads((tmp_path / name / "ocr_results.json").read_text())

    model = trained_model_path()
    assert os.path.exists(model)
    plain = extract("plain")
    trained = extract("trained", "--model", model)
    assert [r["box"] for r in plain] == [[20, 10, 220, 20], [20, 38, 144, 20]]
    assert [r["box"] for r in trained] == [r["box"] for r in plain]
    assert [r["text"] for r in trained] == ["hello spark world", "second line"]
    legacy = extract("legacy", "--model", model, "--method", "legacy")
    assert [r["box"] for r in legacy] != [r["box"] for r in plain]
    for r in plain + trained + legacy:
        for key in ("confidence", "det_confidence"):
            assert r[key] == round(r[key], 4)


@pytest.mark.parametrize("recognizer", ["template", "trained"])
@pytest.mark.parametrize("method", ["projection", "db", "craft"])
def test_ocr_class_reads_pages_like_the_page_kernel(tmp_path, method, recognizer):
    """The OCR class and the Spark page kernel run one line finder and
    one line step: on plain, inverted and tinted fixture pages,
    process_document's boxes are the finder's and its texts are the
    kernel's (page_kernel names the projection finder 'legacy'). The
    kernel decodes the batch's crops stacked, the class one crop per
    call, so trained confidences agree to tolerance, template ones
    exactly."""
    from kiri_ocr_spark.fixtures import _tint_page
    from kiri_ocr_spark.imaging.glyphs import SCALE
    from kiri_ocr_spark.imaging.png import encode_rgb
    from kiri_ocr_spark.ocr import OCR
    from kiri_ocr_spark.operators.model import trained_model_path
    from kiri_ocr_spark.operators.page import line_finder, page_kernel, read_page

    texts = [["the fast key"], ["order sort", "table"], ["column row", "a"]]
    blobs = [
        encode_gray(render_page(texts[0], scale=SCALE)),
        encode_gray(render_page(texts[1], scale=SCALE, invert=True)),
        encode_rgb(_tint_page(render_page(texts[2], scale=SCALE))),
    ]
    model_path = None if recognizer == "template" else trained_model_path()
    kernel = page_kernel(
        model_path, "legacy" if method == "projection" else method, "ctc"
    )
    lines, _ = kernel(blobs, {})
    ocr = OCR(model_path=model_path, det_method=method, decode_method="fast")
    find = line_finder(method)
    for i, (blob, want, got_lines) in enumerate(zip(blobs, texts, lines)):
        png = tmp_path / f"p{i}.png"
        png.write_bytes(blob)
        results = ocr.process_document(str(png))
        boxes = find(*read_page(blob))
        assert [r["box"] for r in results] == [[int(v) for v in b[:4]] for b in boxes]
        assert [r["text"] for r in results] == [t for t, _ in got_lines] == want
        confs = [r["confidence"] for r in results]
        want_confs = [c for _, c in got_lines]
        if recognizer == "template":
            assert confs == want_confs
        else:
            assert confs == pytest.approx(want_confs, rel=1e-5)
