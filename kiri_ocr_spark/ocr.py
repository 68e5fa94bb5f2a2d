"""Drop-in single-machine ``OCR`` class — the reference's top-level API
(/root/reference/kiri_ocr/core.py:40-1160) re-expressed over this
engine's kernels, so a reference user's driver-side code ports verbatim:

    from kiri_ocr_spark.ocr import OCR
    ocr = OCR(det_method="legacy", decode_method="fast")
    text, results = ocr.extract_text("page.png")
    for chunk in ocr.extract_text_stream_chars("page.png"): ...

Spark is the scale surface (pipeline.py / streaming/); this class is the
reference-parity convenience wrapper for one image at a time — exactly
the role the reference's OCR class plays (its own batch story is a
Python loop). Method/decode switches mirror the reference:

- ``det_method``: 'projection' | 'legacy' | 'db' | 'craft', the
  names of ``page.line_finder``: the projection line bands, or the
  TextDetector facade (db/craft resolve the in-repo numpy forwards by
  default; legacy fallback with a warning only if resolution fails).
- ``decode_method`` (core.py:141-158 normalization, aliases included):
  'fast'/'ctc' -> the loaded model's CTC head when ``model_path`` is
  given (the reference's fast path; the in-sandbox-trained artifacts
  models/trained_full.npz (full 146-glyph charset) and
  models/trained_small.npz (corpus-only) decode exactly, including
  words never seen in training), else the glyph-template CTC
  construction (this
  engine's no-weights exactness path); 'accurate'/'decoder' -> the
  transformer's greedy decode; 'beam' -> its beam search. Weights load
  via the S3 loader when ``model_path`` is given (save_model/
  load_model), else the deterministic seed build. Every neural mode
  decodes its region through ``model.decode_crops_memo``, the engine's
  one line decoder, in fp32 for trained and seed weights alike.

INTENTIONAL default divergence: the reference defaults
``decode_method='accurate'`` (its trained transformer beats its CTC
head); this class defaults ``'fast'`` because in-sandbox the template
CTC path is the exact one while the transformer runs seed weights —
flip the default back when shipping trained weights via model_path.
"""

from __future__ import annotations

import os
from typing import Iterator, Union

import numpy as np

from .imaging.png import rgb_to_gray
from .operators.detect import detect_lines, orient_and_binarize, split_words
from .operators.model import decode_crops_memo, get_model
from .operators.page import line_finder, read_lines, read_page

_DECODE_ALIASES = {
    "fast": "ctc",
    "ctc": "ctc",
    "accurate": "decoder",
    "decoder": "decoder",
    "beam": "beam",
}


def _normalize_decode_method(method: str) -> str:
    """core.py:141-158: alias normalization with the same error shape."""
    method = method.lower().strip()
    if method not in _DECODE_ALIASES:
        raise ValueError(
            f"Invalid decode_method '{method}'. Choose from: 'fast', "
            "'accurate', 'beam' (or aliases: 'ctc', 'decoder')"
        )
    return _DECODE_ALIASES[method]


class OCR:
    def __init__(
        self,
        model_path: str | None = None,
        det_method: str = "legacy",
        decode_method: str = "fast",
    ):
        self.decode_method = _normalize_decode_method(decode_method)
        self._find_lines = line_finder(det_method)
        # no weights shipped: the template path is this engine's CTC
        # exactness construction
        self._template = self.decode_method == "ctc" and model_path is None
        self._model = None
        self._model_path = model_path

    @property
    def model(self):
        """Lazy transformer load (M8 cache underneath): only the
        neural paths need it."""
        if self._model is None:
            self._model = get_model(path=self._model_path)
        return self._model

    # -- input handling ----------------------------------------------------

    @staticmethod
    def _load_page(
        image: Union[str, os.PathLike, np.ndarray],
    ) -> tuple[np.ndarray, np.ndarray]:
        """(oriented gray, ink) of a page array or PNG file."""
        if isinstance(image, np.ndarray):
            gray = image if image.ndim == 2 else rgb_to_gray(image)
            return orient_and_binarize(np.asarray(gray, dtype=np.uint8))
        with open(image, "rb") as f:
            return read_page(f.read())

    def _regions(self, image, mode: str):
        """(gray, ink, boxes) for ``mode`` 'lines' | 'words' — the one
        region selection process_document and the stream generator share,
        so both see identical regions ('same text, token at a time').
        Words are detect.split_words of the projection lines for every
        det_method, like the reference facade, whose neural backends
        detect lines only (detector/__init__.py:293-297)."""
        gray, ink = self._load_page(image)
        if mode == "lines":
            boxes = self._find_lines(gray, ink)
        elif mode == "words":
            boxes = [(*w, 1.0) for line in detect_lines(gray, ink=ink)
                     for w in split_words(ink, line)]
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return gray, ink, boxes

    def _read_regions(self, gray: np.ndarray, ink: np.ndarray, boxes) -> Iterator:
        """(text, conf) per box, lazily: page.read_lines, the page
        kernel's own line step; a neural crop decodes in its own
        decode_crops_memo call (fp32, line_crop's training geometry)."""
        for item in read_lines(gray, ink, boxes, self._template):
            if isinstance(item, np.ndarray):
                (item,) = decode_crops_memo(
                    self.model, [item], {}, method=self.decode_method
                )
            yield item

    # -- reference public surface ------------------------------------------

    def process_document(self, image, mode: str = "lines") -> list[dict]:
        """core.py:719-793: detect regions (lines or words), recognize
        each; result dicts carry box/text/confidence/det_confidence/
        line_number."""
        gray, ink, boxes = self._regions(image, mode)
        results = []
        texts = self._read_regions(gray, ink, boxes)
        for i, (box, (text, conf)) in enumerate(zip(boxes, texts), start=1):
            results.append(
                {
                    "box": [int(v) for v in box[:4]],
                    "text": text,
                    "confidence": float(conf),
                    "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
                    "line_number": i,
                }
            )
        return results

    def extract_text(self, image, mode: str = "lines") -> tuple[str, list[dict]]:
        """core.py:1104-1160: recognize then group results into text lines
        by vertical center with 0.8*max-height tolerance, words joined by
        spaces, lines by newlines."""
        results = self.process_document(image, mode)
        if not results:
            return "", results
        lines: list[list[str]] = []
        prev_cy = prev_h = None
        for res in results:
            y, h = res["box"][1], res["box"][3]
            cy = y + h / 2
            if prev_cy is not None and abs(cy - prev_cy) < max(h, prev_h) * 0.8:
                lines[-1].append(res["text"])
            else:
                lines.append([res["text"]])
            prev_cy, prev_h = cy, h
        return "\n".join(" ".join(ln) for ln in lines), results

    def extract_text_stream_chars(
        self, image, mode: str = "lines"
    ) -> Iterator[dict]:
        """core.py:887-1026 chunk contract: per-region start marker, then
        one chunk per emitted token with the cumulative document text and
        the region/document finished flags. The Spark-scale analogues are
        streaming/extract.stream_token_decode (CTC, monotone) and
        stream_beam_retraction (decoder mode); this is the reference's
        driver-side generator shape."""
        gray, ink, boxes = self._regions(image, mode)
        total = len(boxes)
        all_texts: list[str] = []
        texts = self._read_regions(gray, ink, boxes)
        for region_num, box in enumerate(boxes, start=1):
            yield {
                "token": "",
                "text": "",
                "cumulative_text": "\n".join(all_texts),
                "region_number": region_num,
                "total_regions": total,
                "step": 0,
                "region_finished": False,
                "document_finished": False,
                "region_start": True,
                "box": [int(v) for v in box[:4]],
                "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
            }
            text, conf = next(texts)
            so_far = ""
            for step, ch in enumerate(text, start=1):
                so_far += ch
                last = step == len(text)
                yield {
                    "token": ch,
                    "text": so_far,
                    "cumulative_text": "\n".join(all_texts + [so_far]),
                    "region_number": region_num,
                    "total_regions": total,
                    "step": step,
                    "confidence": float(conf),
                    "region_finished": last,
                    "document_finished": last and region_num == total,
                    "region_start": False,
                    "box": [int(v) for v in box[:4]],
                    "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
                }
            if not text:  # empty region: single finished marker
                yield {
                    "token": "",
                    "text": "",
                    "cumulative_text": "\n".join(all_texts),
                    "region_number": region_num,
                    "total_regions": total,
                    "step": 0,
                    "region_finished": True,
                    "document_finished": region_num == total,
                    "region_start": False,
                    "box": [int(v) for v in box[:4]],
                    "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
                }
            else:
                all_texts.append(text)
