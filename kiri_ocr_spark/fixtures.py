"""Deterministic interleaved-document fixture (FIXTURES.md §1-§3).

Derives the BASELINE.json ``input_hint`` table
``documents(doc_id, spans ARRAY<STRUCT<kind,text,media_ref,offset>>)`` plus
its media-payload table from the driver's flat ``documents`` parquet
(doc_id, text, ...), using rules simple enough to express in BOTH Spark SQL
and DuckDB SQL. That makes the *whole OCR pipeline* oracle-checkable: DuckDB
computes what every span's text must be by construction; Spark computes it
by actually rendering PNGs and running detection + recognition — the same
construction-time-oracle pattern as the reference's benchmark
(/root/reference/benchmark/generate_bench_data.py, run_benchmark.py:93-124).

THE SPEC (shared by `build_fixture`, `expected_sql`, bench, and — in
Python, for the training and artifact-gate decks — `media_pages`):

  norm    = whitespace-collapsed + trimmed text;  toks = split(norm, ' ')
  nt      = len(toks)
  n_text  = 1 + doc_id % 4                        (1..4 text spans)
  n_media = doc_id % 3 + (16 if doc_id % 97 == 0 else 0)   # 1% skew tail
  text span t  (t in 0..n_text-1):
      offset    = 2*t
      raw text  = '  w0 w1  w2 w3 w4 '  with wi = toks[(t*5+i) % nt]
                  (noisy whitespace; normalizer must collapse it)
      expected  = 'w0 w1 w2 w3 w4'
  media span m (m in 0..n_media-1):
      offset    = 2*m + 1
      media_ref = 'img_<doc_id>_<m>'
      wi        = toks[(m*3+i) % nt]
      lines     = [w0+' '+w1, w2]  if m % 2 == 1 else  ['w0 w1 w2']
      rendered dark-on-light at SCALE, inverted when m % 3 == 2,
      shipped as tinted truecolor when m % 5 == 3
      expected text = '\n'.join(lines)
  storage order of the spans array is REVERSED relative to offset order, so
  correct output ordering must come from `offset`, never ingestion order.
  golden `ord` = dense 0-based rank of offset within the doc.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import collapse_whitespace
from .imaging.glyphs import SCALE, render_page
from .imaging.png import encode_gray, encode_rgb

MEDIA_SCHEMA = "media_ref string, png_bytes binary, width int, height int"


def _tok(base: str, i: int, toks: str = "toks", nt: str = "nt") -> str:
    """Spark/DuckDB-shared 1-based cyclic token lookup expression."""
    return f"{toks}[(({base})*1 + {i}) % {nt} + 1]"


def _spark_tok(base: str, i: int) -> str:
    return f"element_at(toks, cast(pmod({base} + {i}, nt) as int) + 1)"


def with_token_columns(df: DataFrame) -> DataFrame:
    """Attach toks/nt/n_text/n_media per the spec to a flat docs table."""
    return df.select(
        "doc_id",
        F.split(collapse_whitespace("text"), " ").alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.expr("size(toks)").alias("nt"),
        F.expr("cast(1 + doc_id % 4 as int)").alias("n_text"),
        F.expr(
            "cast(doc_id % 3 + if(doc_id % 97 = 0, 16, 0) as int)"
        ).alias("n_media"),
    )


def build_documents(flat_docs: DataFrame) -> DataFrame:
    """Flat docs -> interleaved spans table (input_hint schema)."""
    base = with_token_columns(flat_docs)
    text_spans = f"""
      transform(sequence(0, n_text - 1), t -> named_struct(
        'kind', 'text',
        'text', concat('  ', {_spark_tok('t*5', 0)}, ' ', {_spark_tok('t*5', 1)},
                       '  ', {_spark_tok('t*5', 2)}, ' ', {_spark_tok('t*5', 3)},
                       ' ', {_spark_tok('t*5', 4)}, ' '),
        'media_ref', cast(null as string),
        'offset', cast(2*t as int)))
    """
    media_spans = """
      slice(transform(sequence(0, greatest(n_media, 1) - 1), m -> named_struct(
        'kind', 'media',
        'text', cast(null as string),
        'media_ref', concat('img_', doc_id, '_', m),
        'offset', cast(2*m + 1 as int))), 1, n_media)
    """
    return base.select(
        "doc_id",
        F.expr(f"reverse(concat({text_spans}, {media_spans}))").alias("spans"),
    )


# S1 color-path coverage: every m % 5 == 3 page ships as a truecolor PNG
# — dark-blue ink on warm paper, applied by pixel VALUE so inverted pages
# keep their polarity in luma. The tint is a strictly increasing affine
# map of the binary page, so extraction, line detection and dHash grouping
# are unchanged while ~20% of every fixture (and bench) run exercises the
# color decode + luma projection for real.
_TINT_INK = (20, 20, 80)     # luma 27
_TINT_PAPER = (245, 240, 220)  # luma 239


def _tint_page(page):
    import numpy as np

    rgb = np.empty(page.shape + (3,), dtype=np.uint8)
    dark = page < 128
    for c in range(3):
        rgb[:, :, c] = np.where(dark, _TINT_INK[c], _TINT_PAPER[c])
    return rgb


def render_media(lines: list[str], invert: bool, tint: bool):
    """(page, png_bytes) of one media span per the spec."""
    page = render_page(lines, scale=SCALE, invert=invert)
    if tint:
        return page, encode_rgb(_tint_page(page))
    return page, encode_gray(page)


def fixture_docs(sf_dir: str, max_docs: int | None = None):
    """[(doc_id, toks)] of a testdata documents parquet in doc_id order,
    toks per the spec (whitespace-collapsed, split on ' ')."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = sorted(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    if max_docs:
        docs = docs[:max_docs]
    return [(doc_id, " ".join(text.split()).split(" ")) for doc_id, text in docs]


def media_pages(sf_dir: str, max_docs: int | None = None) -> Iterator[tuple]:
    """The spec's media spans in Python — what build_media's Spark
    expression renders — as (doc_id, m, lines, invert, tint), in doc_id
    then m order."""
    for doc_id, toks in fixture_docs(sf_dir, max_docs):
        nt = len(toks)
        for m in range(doc_id % 3 + (16 if doc_id % 97 == 0 else 0)):
            w = [toks[(m * 3 + i) % nt] for i in range(3)]
            lines = [w[0] + " " + w[1], w[2]] if m % 2 == 1 else [" ".join(w)]
            yield doc_id, m, lines, m % 3 == 2, m % 5 == 3


def _render_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        refs, blobs, ws, hs = [], [], [], []
        for ref, rtext, inv, tint in zip(
            pdf["media_ref"], pdf["render_text"], pdf["invert"], pdf["tint"]
        ):
            page, blob = render_media(rtext.split("\n"), bool(inv), bool(tint))
            refs.append(ref)
            blobs.append(blob)
            hs.append(page.shape[0])
            ws.append(page.shape[1])
        yield pd.DataFrame(
            {"media_ref": refs, "png_bytes": blobs, "width": ws, "height": hs}
        )


def build_media(flat_docs: DataFrame) -> DataFrame:
    """Render every media span's payload -> media(media_ref, png_bytes, w, h).

    The specs are repartitioned before the render kernel: the source
    documents parquet is a single file, and inheriting its 1-partition
    scan would serialize rendering AND every downstream mapInPandas over
    the media table (the cache writes one file per partition)."""
    spark = flat_docs.sparkSession
    nparts = 2 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = with_token_columns(flat_docs)
    specs = (
        base.filter(F.col("n_media") > 0)
        .select(
            "doc_id",
            "toks",
            "nt",
            F.explode(F.expr("sequence(0, n_media - 1)")).alias("m"),
        )
        .select(
            F.expr("concat('img_', doc_id, '_', m)").alias("media_ref"),
            F.expr(
                f"""case when m % 2 = 1
                    then concat({_spark_tok('m*3', 0)}, ' ', {_spark_tok('m*3', 1)},
                                '\\n', {_spark_tok('m*3', 2)})
                    else concat({_spark_tok('m*3', 0)}, ' ', {_spark_tok('m*3', 1)},
                                ' ', {_spark_tok('m*3', 2)})
                    end"""
            ).alias("render_text"),
            F.expr("m % 3 = 2").alias("invert"),
            F.expr("m % 5 = 3").alias("tint"),
        )
    )
    # ROUND-ROBIN, not hash(media_ref): the cache writes one file per
    # partition, and downstream ~10 ms/row neural stages (trained decode,
    # conv detect+recognize) read those files back packed by byte size.
    # Hash partitioning leaves Poisson row-count variance per file
    # (measured 31-64 rows across 128 files at sf0.1), which compounds
    # under read-side packing into a 1.77x pages-per-partition spread
    # (509-900) — and a single wave of slot-count tasks then runs at the
    # SLOWEST task's pace (trained-decode stage 16.2s vs 12.0s balanced
    # at sf0.1/local[8]). Round-robin makes every file's row count equal
    # by construction, so any byte packing yields row-balanced scans at
    # every core count with no query-time reshuffle.
    return specs.repartition(nparts).mapInPandas(
        _render_batches, schema=MEDIA_SCHEMA
    )


def fixture_spec_key(sf_dir: str) -> str:
    """Hash of the renderer's layout/encoding contract + the sf dir — the
    cache key for every materialized copy of the fixture (here and in
    bench.py), so a fixture-contract change invalidates them all."""
    import hashlib

    from .imaging import glyphs

    spec = (  # v4: media cache files round-robin row-balanced
        f"v4|{glyphs.GLYPH_W}|{glyphs.GLYPH_H}|{glyphs.CHAR_GAP}|"
        f"{glyphs.SPACE_GAP}|{glyphs.LINE_GAP}|{glyphs.PAD_X}|{glyphs.PAD_Y}|"
        f"{glyphs.SCALE}|{sf_dir}"
    )
    return hashlib.sha256(spec.encode()).hexdigest()[:16]


def build_fixture(
    spark: SparkSession, sf_dir: str, cache: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(documents_spans, media) from a testdata scale-factor directory.

    Rendering ~5k PNGs costs ~10s at sf0.1, and a dozen registry queries
    each need the fixture — so by default the rendered tables are parked
    as parquet under /tmp once per (sf_dir, spec) and re-read thereafter.
    The cache key includes the renderer's layout constants, so changing
    the spec invalidates it."""
    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if not cache:
        return build_documents(flat), build_media(flat)

    import os
    import tempfile

    key = fixture_spec_key(sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"kiri_fixture_cache_{key}")
    docs_dir, media_dir = os.path.join(base, "docs"), os.path.join(base, "media")
    done = os.path.join(base, "_COMPLETE")
    if not os.path.exists(done):
        import shutil

        tmp = base + f".tmp{os.getpid()}"
        build_documents(flat).write.mode("overwrite").parquet(
            os.path.join(tmp, "docs")
        )
        build_media(flat).write.mode("overwrite").parquet(
            os.path.join(tmp, "media")
        )
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        try:
            os.rename(tmp, base)  # atomic publish
        except OSError:
            if os.path.exists(done):  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
            else:  # stale partial dir from a crashed build: replace it
                shutil.rmtree(base, ignore_errors=True)
                os.rename(tmp, base)
    return spark.read.parquet(docs_dir), spark.read.parquet(media_dir)


def expected_sql(documents_table: str = "documents") -> str:
    """DuckDB SQL computing the golden flat extraction output
    (doc_id, ord, kind, text, media_ref) purely by construction."""
    t0, t1, t2, t3, t4 = (_tok("t*5", i) for i in range(5))
    m0, m1, m2 = (_tok("m*3", i) for i in range(3))
    return f"""
WITH d AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
         1 + doc_id % 4 AS n_text,
         doc_id % 3 + CASE WHEN doc_id % 97 = 0 THEN 16 ELSE 0 END AS n_media
  FROM {documents_table}
), d2 AS (
  SELECT doc_id, toks, len(toks) AS nt, n_text, n_media FROM d
), t AS (
  SELECT doc_id, 2*t AS off, 'text' AS kind,
         {t0} || ' ' || {t1} || ' ' || {t2} || ' ' || {t3} || ' ' || {t4} AS text,
         CAST(NULL AS VARCHAR) AS media_ref
  FROM d2, unnest(generate_series(0, n_text - 1)) AS g(t)
), m AS (
  SELECT doc_id, 2*m + 1 AS off, 'media' AS kind,
         CASE WHEN m % 2 = 1
              THEN {m0} || ' ' || {m1} || chr(10) || {m2}
              ELSE {m0} || ' ' || {m1} || ' ' || {m2}
         END AS text,
         'img_' || doc_id || '_' || m AS media_ref
  FROM d2, unnest(generate_series(0, n_media - 1)) AS g(m)
  WHERE n_media > 0
), u AS (
  SELECT * FROM t UNION ALL SELECT * FROM m
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1 AS INT) AS ord,
       kind, text, media_ref
FROM u
""".strip()
