"""The flagship extraction dataflow (SURVEY.md §3.1 "our equivalent lifecycle").

    documents(doc_id, spans)                 media(media_ref, png_bytes, ...)
        |  posexplode(spans)                        |
        |  route by kind (P11, pure Catalyst)       |
        +-- text:  native trim/collapse + NFC pandas_udf (F1/F2)
        +-- media: salt (skew: media-heavy docs) -> repartition
                   -> join media payload (broadcast small / SMJ + AQE skew)
                   -> mapInPandas page_kernel (detect F13 + recognize M2/F7)
                   -> bytes projected away immediately (§4.3 large-binary hygiene)
        \\-> unionByName (U5)
        -> groupBy(doc_id) ordered-span assembly (A8/W9) -- the only
           required shuffle carries only text rows, never image bytes.

Design notes for 100 TB / 1000 executors:
- the per-span explode breaks media-heavy documents apart BEFORE any
  expensive work, and the salt column spreads one hot doc's spans across
  the cluster (north_rule "explicit salting of skewed media-heavy
  partitions"); AQE skew-join covers the payload join side;
- recognizer weights (trained model, glyph templates) are loaded once per
  Python worker by executor-side caches, never shipped per task;
- everything outside the OCR kernel is native Catalyst -> whole-stage
  codegen; the kernel is Arrow-batched, never per-row Python.
"""

from __future__ import annotations

import struct
import time
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import normalize_text

OCR_SCHEMA = (
    "doc_id long, offset int, kind string, text string, media_ref string, "
    "conf double, n_lines int, kernel_us long"
)

SPAN_SCHEMA = (
    "doc_id long, offset int, kind string, text string, media_ref string, "
    "conf double, n_lines int"
)

# the per-row quarantine policy of every page kernel — each failure mode
# of a missing or corrupt-but-magic-valid payload: bad magic / missing
# IHDR / NULL payload (ValueError), truncated chunk header
# (struct.error), corrupt/truncated IDAT (zlib.error), malformed
# scanline geometry (IndexError/KeyError on reshape/filter type)
_QUARANTINE = (ValueError, KeyError, IndexError, struct.error, zlib.error)


def page_kernel(
    model_path: str | None, det_method: str = "legacy", decode_method: str = "ctc"
):
    """The one page kernel every line-recognizing query runs: decode PNG
    -> fused orient + binarize -> detect lines -> recognize each line.

    Returns ``ocr(blobs, memo) -> (lines, row_us)``: ``lines[i]`` is page
    i's ``[(text, conf), ...]`` in reading order, or None when the page is
    quarantined (every ``_QUARANTINE`` failure of a missing or corrupt
    payload); ``row_us[i]`` is page i's own kernel time in µs. Build it
    executor-side (inside the mapInPandas function): it loads the model.

    ``det_method``: 'legacy' = the CC line finder (detect_lines);
    'db' | 'craft' = the calibrated conv-forward detectors through
    TextDetector.detect_line_boxes (W3 row clustering + blank-row band
    split, which leaves each box tight to its ink; db with the slow
    component-pixel score) — the reference's
    process_document(method='db'|'craft'), detector/__init__.py:161-192
    -> core.py:770-792.

    ``model_path`` None: the glyph-template recognizer (recognize_line on
    the ink mask; ``memo`` is unused, the template path memoizes per
    worker). Otherwise the trained transformer (core.py:719-793 always
    decodes through the model): crops follow the trained artifact's
    contract (pad_training_margins + resize) and are stacked ACROSS the
    batch's pages into one decode_crops_memo call (``decode_method``
    'ctc' or 'beam'); ``memo`` is its caller-owned, per-partition memo.
    The model loads once per Python worker (M8 get_model cache)."""
    import numpy as np

    from .imaging.png import decode_gray
    from .operators.detect import (
        detect_lines,
        orient_and_binarize,
        pad_training_margins,
        resize_keep_ratio_pad,
    )

    model = detector = None
    if model_path is None:
        from .operators.recognize import recognize_line
    else:
        from .operators.model import decode_crops_memo, get_model

        model = get_model(path=model_path)
    if det_method != "legacy":
        from .operators.facade import TextDetector

        det_kwargs = {"det_db_score_mode": "slow"} if det_method == "db" else {}
        detector = TextDetector(method=det_method, **det_kwargs)

    def ocr(blobs, memo: dict) -> tuple[list, list[int]]:
        n = len(blobs)
        lines: list = [None] * n
        row_us = [0] * n
        crops: list[np.ndarray] = []
        owners: list[int] = []  # crop -> page index
        t_prev = time.monotonic()
        for ri, blob in enumerate(blobs):
            # snapshot so a mid-page quarantine rolls back any crops
            # already appended for this page — otherwise the stacked
            # decode below hands partial text to a quarantined page
            n_crops_at_row_start = len(crops)
            # quarantine, don't crash: one corrupt payload among 10^12
            # docs must not fail the task (and with it the wave)
            try:
                if blob is None:  # payload missing from the store
                    raise ValueError("missing media payload")
                gray, ink = orient_and_binarize(decode_gray(bytes(blob)))
                if detector is None:
                    boxes = detect_lines(gray, ink=ink)
                else:
                    boxes = detector.detect_line_boxes(gray, ink)
                if model is None:
                    lines[ri] = [recognize_line(ink, b) for b in boxes]
                else:
                    for b in boxes:
                        x, y, w, h = (int(v) for v in b[:4])
                        crops.append(
                            resize_keep_ratio_pad(
                                pad_training_margins(gray[y : y + h, x : x + w])
                            )
                        )
                        owners.append(ri)
                    lines[ri] = []
            except _QUARANTINE:
                del crops[n_crops_at_row_start:]
                del owners[n_crops_at_row_start:]
            # true per-row kernel time, stamped inside the row loop:
            # summing it over any row grouping (e.g. checkpoint part_id)
            # yields that group's actual kernel wall — heavy rows carry
            # their own cost, not a batch average
            t_now = time.monotonic()
            row_us[ri] = int((t_now - t_prev) * 1_000_000)
            t_prev = t_now
        if crops:
            # one stacked decode for the whole batch (ENCODE_CHUNK-sized
            # fp32 encodes); its cost is spread over the owning rows
            decoded = decode_crops_memo(model, crops, memo, method=decode_method)
            per = int((time.monotonic() - t_prev) * 1_000_000 / len(crops))
            for ri, d in zip(owners, decoded):
                lines[ri].append(d)
                row_us[ri] += per
        return lines, row_us

    return ocr


def _ocr_batches(
    model_path: str | None, det_method: str = "legacy", decode_method: str = "ctc"
):
    """mapInPandas kernel over (doc_id, offset, kind, media_ref,
    png_bytes) -> OCR_SCHEMA rows: page text = its lines joined by \\n
    (reference assembly core.py:1160), conf = mean line conf (0 for a
    page without lines), n_lines; a quarantined page carries the
    dead-letter marker text NULL, conf 0, n_lines -1."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ocr = page_kernel(model_path, det_method, decode_method)
        memo: dict = {}  # per-partition content-addressed decode memo
        for pdf in batches:
            lines, row_us = ocr(pdf["png_bytes"], memo)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "offset": pdf["offset"],
                    "kind": pdf["kind"],
                    "text": [
                        None if ls is None else "\n".join(t for t, _ in ls)
                        for ls in lines
                    ],
                    "media_ref": pdf["media_ref"],
                    "conf": [
                        float(np.mean([c for _, c in ls])) if ls else 0.0
                        for ls in lines
                    ],
                    "n_lines": [-1 if ls is None else len(ls) for ls in lines],
                    "kernel_us": row_us,
                }
            )

    return fn


LINE_SCHEMA = "media_ref string, line_no int, text string"


def ocr_line_rows(model_path: str | None, det_method: str = "legacy"):
    """mapInPandas kernel over (media_ref, png_bytes) -> one LINE_SCHEMA
    row per recognized line, line_no 0..n-1 in reading order; a
    quarantined page yields no rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ocr = page_kernel(model_path, det_method)
        memo: dict = {}  # per-partition decode memo (corpus lines repeat)
        for pdf in batches:
            lines, _ = ocr(pdf["png_bytes"], memo)
            rows = [
                (ref, i, t)
                for ref, ls in zip(pdf["media_ref"], lines)
                for i, (t, _) in enumerate(ls or ())
            ]
            if rows:
                yield pd.DataFrame(rows, columns=["media_ref", "line_no", "text"])

    return fn


def extract_span_rows(
    docs: DataFrame,
    media: DataFrame,
    *,
    salt_buckets: int = 64,
    media_partitions: int | None = None,
    broadcast_media: bool = False,
    keep_kernel_us: bool = False,
    recognizer: str = "trained",
    detector: str = "legacy",
) -> DataFrame:
    """Span-level extraction: one row per span with recognized/normalized
    text, confidence and lineage columns. No assembly shuffle yet.

    ``recognizer`` defaults to "trained" — every media line decodes
    through the in-sandbox-trained numpy transformer's CTC head, matching
    the reference's architecture (core.py:719-793 ALWAYS decodes through
    the model; it has no template mode). "template" keeps the glyph-
    template construction path reachable for fixture tests and as the
    no-weights fallback."""
    spark = docs.sparkSession
    spans = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")

    # ONE non-media branch handles both text spans and unknown kinds —
    # unknown kinds must not vanish (at 10^12 docs silent row loss is
    # unrecoverable): they dead-letter inline with text carried through,
    # conf 0 and an n_lines = -2 marker, folded into the text branch's
    # predicate so the robustness guard costs zero extra scans.
    # eqNullSafe: a NULL kind must land HERE — `kind != 'media'` evaluates
    # to NULL for NULL kind and both branch filters would drop the span.
    is_text = F.col("kind").eqNullSafe("text")
    text_rows = (
        spans.filter(~F.col("kind").eqNullSafe("media"))
        .select(
            "doc_id",
            "offset",
            "kind",
            F.when(is_text, normalize_text(F.col("text")))
            .otherwise(F.col("text"))
            .alias("text"),
            F.when(is_text, F.lit(None).cast("string"))
            .otherwise(F.col("media_ref"))
            .alias("media_ref"),
            F.when(is_text, F.lit(1.0)).otherwise(F.lit(0.0)).alias("conf"),
            F.when(is_text, F.lit(0)).otherwise(F.lit(-2)).alias("n_lines"),
        )
    )

    media_rows = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "kind", "media_ref"
    )
    # explicit skew salting: one media-heavy doc must spread across the
    # cluster, and the OCR stage must be partitioned by ROW COUNT, not
    # bytes — per-row kernel cost dwarfs per-row size, so AQE's byte-based
    # coalescing would starve it (it can't see CPU cost). repartition(n, …)
    # is REPARTITION_BY_NUM: AQE leaves the partition count alone.
    # offset joins the salt hash so even a document repeating the SAME
    # image N times spreads over the buckets — (doc_id, media_ref) alone
    # maps identical-ref spans to one bucket, a worst-case hot partition
    salted = media_rows.withColumn(
        "salt",
        F.pmod(
            F.xxhash64("doc_id", "media_ref", "offset"), F.lit(salt_buckets)
        ).cast("int"),
    )
    # 2x the shuffle partitioning for the OCR stage: tasks are CPU-heavy
    # (~2ms/image python kernel), so finer granularity smooths the last
    # wave's stragglers; measured best at both 8 and 32 cores.
    nparts = media_partitions or 2 * int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # LEFT join: a media_ref missing from the payload store must surface
    # as a quarantined row (n_lines -1, like a corrupt payload), never
    # silently drop the span from the document's sequence.
    if broadcast_media:
        # small media store: broadcast payload; the slim ref side is
        # pre-repartitioned and keeps its partitioning through the join,
        # so image bytes never shuffle at all.
        joined = (
            salted.repartition(nparts, "salt", "doc_id")
            .join(F.broadcast(media), "media_ref", "left")
        )
    else:
        # large media store: shuffle join on media_ref (unique per span ->
        # inherently skew-free), then an explicit row-count repartition on
        # the salt feeds the kernel uniform AQE-proof tasks. On a real
        # cluster, bucket media by media_ref to make the join co-located.
        joined = salted.join(media, "media_ref", "left").repartition(nparts, "salt")
    joined = joined.select("doc_id", "offset", "kind", "media_ref", "png_bytes")

    if recognizer not in ("trained", "beam", "template"):
        # fail fast on typos: 'Beam' silently producing template output
        # is a silent-wrong-answer bug at corpus scale (ADVICE r6)
        raise ValueError(
            f"unknown recognizer {recognizer!r}; "
            "expected 'trained', 'beam' or 'template'"
        )
    if recognizer == "template":
        model_path = None
    else:
        from .queries import trained_model_path

        model_path = trained_model_path()
    kernel = _ocr_batches(
        model_path,
        det_method=detector,
        # "beam" = the reference's flagship ACCURACY mode (BEAM=3 + CTC
        # fusion + anchor injection/rescoring, model.py:390-600) driven
        # through full extraction; "trained" = its fast path
        decode_method="beam" if recognizer == "beam" else "ctc",
    )
    ocr = joined.mapInPandas(kernel, schema=OCR_SCHEMA)
    if keep_kernel_us:
        text_rows = text_rows.withColumn("kernel_us", F.lit(0).cast("long"))
    else:
        ocr = ocr.drop("kernel_us")

    return text_rows.unionByName(ocr)


def assemble_documents(span_rows: DataFrame) -> DataFrame:
    """A8/W9: per-doc ordered span sequence. `ord` = dense rank of offset
    (array_sort on the offset-first struct, then index via transform)."""
    return span_rows.groupBy("doc_id").agg(
        F.expr(
            """
            transform(
              array_sort(collect_list(struct(offset, kind, text, media_ref))),
              (s, i) -> struct(s.kind as kind, s.text as text,
                               s.media_ref as media_ref, cast(i as int) as ord)
            )
            """
        ).alias("spans")
    )


def extract_flat(
    docs: DataFrame,
    media: DataFrame,
    **kwargs,
) -> DataFrame:
    """Flat (doc_id, ord, kind, text, media_ref) extraction output — the
    shape the DuckDB construction oracle checks."""
    assembled = assemble_documents(extract_span_rows(docs, media, **kwargs))
    return assembled.select(
        "doc_id", F.posexplode("spans").alias("ord", "s")
    ).select(
        "doc_id",
        F.col("ord").cast("int").alias("ord"),
        "s.kind",
        "s.text",
        "s.media_ref",
    )


def extract_from_sf_dir(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
    """Convenience: synthesize the fixture from a testdata dir and extract.
    Fixture media stores are small -> broadcast by default."""
    from .fixtures import build_fixture

    kwargs.setdefault("broadcast_media", True)
    docs, media = build_fixture(spark, sf_dir)
    return extract_flat(docs, media, **kwargs)
