"""The flagship extraction dataflow (SURVEY.md §3.1 "our equivalent lifecycle").

    documents(doc_id, spans)                 media(media_ref, png_bytes, ...)
        |  posexplode(spans)                        |
        |  route by kind (P11, pure Catalyst)       |
        +-- text:  native trim/collapse + NFC pandas_udf (F1/F2)
        +-- media: salt (skew: media-heavy docs) -> repartition
                   -> join media payload (broadcast small / SMJ + AQE skew)
                   -> mapInPandas page_kernel (operators/page.py):
                      read_page (decode -> orient + binarize)
                      -> detect lines (F13) -> tight_box -> line_crop
                      -> recognize (M2/F7), each page under map_pages,
                      the one quarantine loop
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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.text import normalize_text
from .operators.page import page_kernel

OCR_SCHEMA = (
    "doc_id long, offset int, kind string, text string, media_ref string, "
    "conf double, n_lines int, kernel_us long"
)

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
    broadcast_media: bool = False,
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
    nparts = 2 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
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
        from .operators.model import trained_model_path

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
    text_rows = text_rows.withColumn("kernel_us", F.lit(0).cast("long"))
    return text_rows.unionByName(ocr)


def ordered_spans() -> Column:
    """A8/W9: one document's ordered span sequence, aggregated over its
    span rows: `ord` = dense rank of offset (array_sort on the
    offset-first struct, then index via transform)."""
    return F.expr(
        """
        transform(
          array_sort(collect_list(struct(offset, kind, text, media_ref))),
          (s, i) -> struct(s.kind as kind, s.text as text,
                           s.media_ref as media_ref, cast(i as int) as ord)
        )
        """
    ).alias("spans")


def assemble_documents(span_rows: DataFrame) -> DataFrame:
    """Per-doc ordered span sequence (`ordered_spans`)."""
    return span_rows.groupBy("doc_id").agg(ordered_spans())


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
