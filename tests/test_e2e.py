"""End-to-end span-sequence equality vs the construction-time oracle
(BASELINE.json invariant: (kind, text, media_ref, order) per document),
plus normalizer and fixture-shape invariants (SURVEY.md §5.2)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kiri_ocr_spark.fixtures import build_documents, build_fixture, expected_sql
from kiri_ocr_spark.functions.text import cer, is_khmer, normalize_text
from kiri_ocr_spark.pipeline import (
    assemble_documents,
    extract_flat,
    extract_span_rows,
)


@pytest.fixture(scope="module")
def extracted(spark, sf_tiny):
    docs, media = build_fixture(spark, sf_tiny)
    got = (
        extract_flat(docs, media)
        .toPandas()
        .sort_values(["doc_id", "ord"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_tiny}/documents.parquet'"
    )
    exp = (
        con.execute(expected_sql())
        .df()
        .sort_values(["doc_id", "ord"])
        .reset_index(drop=True)
    )
    return got, exp


def test_span_sequence_exact_match(extracted):
    got, exp = extracted
    assert len(got) == len(exp)
    merged = got.merge(
        exp, on=["doc_id", "ord"], suffixes=("_g", "_e"), how="outer", indicator=True
    )
    assert (merged["_merge"] == "both").all()
    for col in ("kind", "text", "media_ref"):
        same = merged[f"{col}_g"].fillna("§").eq(merged[f"{col}_e"].fillna("§"))
        assert same.all(), merged[~same].head()


def test_order_is_dense_rank_per_doc(extracted):
    got, _ = extracted
    for _, g in got.groupby("doc_id"):
        assert g["ord"].tolist() == list(range(len(g)))


def test_skew_tail_docs_have_extra_media(extracted):
    got, _ = extracted
    media_per_doc = got[got["kind"] == "media"].groupby("doc_id").size()
    skew = media_per_doc[media_per_doc.index % 97 == 0]
    assert (skew >= 16).all()
    assert media_per_doc[media_per_doc.index % 97 != 0].max() <= 2


def test_storage_order_is_scrambled(spark, sf_tiny):
    """Input invariant: spans array storage order != offset order, so any
    pipeline that ignores `offset` would fail the equality test."""
    flat = spark.read.parquet(f"{sf_tiny}/documents.parquet")
    docs = build_documents(flat)
    row = docs.filter(F.size("spans") >= 3).first()
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets != sorted(offsets)


def test_media_bytes_do_not_cross_assembly_shuffle(spark, sf_tiny):
    """§4.3 hygiene: the physical plan's aggregate stage must not carry the
    png_bytes column."""
    docs, media = build_fixture(spark, sf_tiny)
    plan = extract_flat(docs, media)._jdf.queryExecution().executedPlan().toString()
    # every shuffle exchange on doc_id (the assembly groupBy) must not carry
    # the binary payload column
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges, plan
    for ln in exchanges:
        assert "png_bytes" not in ln, ln


def test_normalizer_matches_duckdb(spark, sf_tiny):
    sdf = spark.read.parquet(f"{sf_tiny}/documents.parquet").select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )
    got = sdf.toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    exp = (
        con.execute(
            f"""SELECT doc_id,
                   nfc_normalize(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
               FROM '{sf_tiny}/documents.parquet' ORDER BY doc_id"""
        )
        .df()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_normalizer_idempotent_and_nfc(spark):
    df = spark.createDataFrame(
        [("  a \t b\n\nc  ",), ("é",), ("ខា",), ("\tfoo  bar\n",), ("x\r\n",)],
        "t string",
    )
    out = df.select(normalize_text(F.col("t")).alias("n")).collect()
    assert out[0]["n"] == "a b c"
    # a tab, newline or CR at either end is trimmed like a space
    assert out[3]["n"] == "foo bar"
    assert out[4]["n"] == "x"
    assert out[1]["n"] == "é"  # NFC composes e + combining acute
    once = out[2]["n"]
    again = (
        spark.createDataFrame([(once,)], "t string")
        .select(normalize_text(F.col("t")).alias("n"))
        .first()["n"]
    )
    assert once == again


def test_khmer_flag_and_cer(spark):
    df = spark.createDataFrame(
        [("hello", "hello", False), ("ខau", "ខau", True), ("abc", "axc", False)],
        "gt string, pred string, khmer boolean",
    )
    rows = df.select(
        is_khmer(F.col("gt")).alias("k"), cer(F.col("gt"), F.col("pred")).alias("c")
    ).collect()
    assert [r["k"] for r in rows] == [False, True, False]
    assert rows[0]["c"] == 0.0
    assert abs(rows[2]["c"] - 1 / 3) < 1e-12


def test_assembly_union_preserves_counts(spark, sf_tiny):
    """Property: routed text+media spans partition the input spans exactly."""
    docs, media = build_fixture(spark, sf_tiny)
    n_input = docs.select(F.explode("spans")).count()
    rows = extract_span_rows(docs, media)
    assert rows.count() == n_input
    assembled = assemble_documents(rows)
    total = assembled.select(F.sum(F.size("spans"))).first()[0]
    assert total == n_input


def test_shuffle_join_media_path_matches_broadcast(spark, sf_tiny):
    """The large-media-store path (shuffle equi-join on media_ref + salted
    row-count repartition) must produce byte-identical output to the
    broadcast path."""
    from kiri_ocr_spark.fixtures import build_fixture
    from kiri_ocr_spark.pipeline import extract_flat

    docs, media = build_fixture(spark, sf_tiny)
    cols = ["doc_id", "ord", "kind", "text", "media_ref"]
    bc = sorted(map(tuple, extract_flat(docs, media, broadcast_media=True)
                    .select(cols).collect()))
    sj = sorted(map(tuple, extract_flat(docs, media, broadcast_media=False)
                    .select(cols).collect()))
    assert bc == sj


def test_corrupt_media_is_quarantined_not_fatal(spark, sf_tiny):
    """A corrupt payload among millions must not fail the task: the span
    is emitted with text NULL / conf 0 / n_lines -1 (dead-letter marker)
    and every healthy row is unaffected."""
    from pyspark.sql import functions as F

    from kiri_ocr_spark.fixtures import build_fixture
    from kiri_ocr_spark.pipeline import extract_span_rows

    docs, media = build_fixture(spark, sf_tiny)
    corrupted = media.withColumn(
        "png_bytes",
        F.when(
            F.col("media_ref") == "img_0_0", F.lit(b"not a png at all")
        ).otherwise(F.col("png_bytes")),
    )
    rows = extract_span_rows(docs, corrupted, broadcast_media=True)
    bad = rows.filter(F.col("n_lines") == -1).collect()
    assert len(bad) == 1 and bad[0].media_ref == "img_0_0"
    assert bad[0].text is None and bad[0].conf == 0.0
    # healthy rows unchanged in count
    total = rows.count()
    clean_total = extract_span_rows(docs, media, broadcast_media=True).count()
    assert total == clean_total


def test_truncated_idat_is_quarantined_not_fatal(spark, sf_tiny):
    """Valid PNG magic + valid IHDR but a corrupt body (truncated IDAT /
    chunk header) raises zlib.error or struct.error inside the codec —
    these must hit the quarantine path too, not crash the task."""
    from pyspark.sql import functions as F

    from kiri_ocr_spark.fixtures import build_fixture
    from kiri_ocr_spark.pipeline import extract_span_rows

    docs, media = build_fixture(spark, sf_tiny)
    # keep the magic + IHDR (first 33 bytes + chunk framing), cut mid-IDAT
    corrupted = media.withColumn(
        "png_bytes",
        F.when(
            F.col("media_ref") == "img_0_0",
            F.expr("substring(png_bytes, 1, 60)"),
        ).otherwise(F.col("png_bytes")),
    )
    rows = extract_span_rows(docs, corrupted, broadcast_media=True)
    bad = rows.filter(F.col("n_lines") == -1).collect()
    assert len(bad) == 1 and bad[0].media_ref == "img_0_0"
    assert bad[0].text is None and bad[0].conf == 0.0


def test_no_silent_span_loss(spark, sf_tiny):
    """At 10^12 docs a silently dropped span is unrecoverable. Spans with
    an unknown kind dead-letter inline (n_lines -2, text preserved) and a
    media_ref missing from the payload store quarantines (n_lines -1) —
    the document's span sequence stays complete either way."""
    from pyspark.sql import functions as F

    from kiri_ocr_spark.fixtures import build_fixture
    from kiri_ocr_spark.pipeline import extract_span_rows

    docs, media = build_fixture(spark, sf_tiny)
    # inject one unknown-kind span and retarget one media span at a ref
    # that does not exist in the store
    docs2 = docs.withColumn(
        "spans",
        F.expr(
            """
            transform(spans, s -> case
              when doc_id = 3 and s.offset = 0 then
                named_struct('kind', 'table', 'text', s.text,
                             'media_ref', s.media_ref, 'offset', s.offset)
              when doc_id = 4 and s.offset = 0 then
                named_struct('kind', cast(null as string), 'text', s.text,
                             'media_ref', s.media_ref, 'offset', s.offset)
              when doc_id = 1 and s.kind = 'media' and s.offset = 1 then
                named_struct('kind', 'media', 'text', s.text,
                             'media_ref', 'img_does_not_exist',
                             'offset', s.offset)
              else s end)
            """
        ),
    )
    rows = extract_span_rows(docs2, media, broadcast_media=True)
    dead = rows.filter("n_lines = -2").collect()
    # a NULL kind must dead-letter too — `kind != 'media'` is NULL for
    # NULL kind and would silently drop the span without eqNullSafe
    assert len(dead) == 2
    by_doc = {r.doc_id: r for r in dead}
    assert by_doc[3].kind == "table" and by_doc[3].text is not None
    assert by_doc[4].kind is None and by_doc[4].conf == 0.0
    assert all(r.conf == 0.0 for r in dead)
    missing = rows.filter("n_lines = -1").collect()
    assert len(missing) == 1 and missing[0].media_ref == "img_does_not_exist"
    # total span count identical to the untouched pipeline — nothing lost
    assert rows.count() == extract_span_rows(docs, media, broadcast_media=True).count()
    # the shuffle-join path preserves spans too
    rows_sj = extract_span_rows(docs2, media, broadcast_media=False)
    assert rows_sj.count() == rows.count()
    assert rows_sj.filter("n_lines = -1").count() == 1


def test_repeated_media_ref_spreads_and_extracts(spark, sf_tiny):
    """Worst-case skew: ONE document referencing the SAME image 192 times.
    The salt must spread those spans over many buckets (offset is part of
    the hash — (doc_id, media_ref) alone would put them all in one), and
    the many-to-one payload join must produce one recognized row per
    span."""
    from pyspark.sql import functions as F

    from kiri_ocr_spark.fixtures import build_fixture
    from kiri_ocr_spark.pipeline import extract_span_rows

    docs, media = build_fixture(spark, sf_tiny)
    ref = media.first().media_ref
    hot = spark.createDataFrame(
        [(999_999, [("media", None, ref, i) for i in range(192)])],
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = extract_span_rows(hot, media, broadcast_media=True)
    got = rows.filter("doc_id = 999999")
    assert got.count() == 192
    texts = got.select("text").distinct().collect()
    assert len(texts) == 1 and texts[0].text  # same image -> same text
    # the salt spreads the hot doc: many distinct buckets, no mega-bucket
    salts = (
        hot.select("doc_id", F.explode("spans").alias("s"))
        .select(
            F.pmod(
                F.xxhash64("doc_id", "s.media_ref", "s.offset"), F.lit(64)
            ).alias("salt")
        )
        .groupBy("salt")
        .count()
    )
    assert salts.count() > 32  # spread over most of the 64 buckets
    assert salts.agg(F.max("count")).first()[0] <= 12


def test_empty_documents_input_yields_empty_output(spark, sf_tiny):
    """Zero-doc input (an empty table or fully-filtered scan) must flow
    through the whole pipeline — routing, salt, join, kernel, assembly —
    and produce an empty result, not a crash."""
    from kiri_ocr_spark.fixtures import build_fixture
    from kiri_ocr_spark.pipeline import extract_flat

    docs, media = build_fixture(spark, sf_tiny)
    empty = docs.filter("doc_id < 0")
    out = extract_flat(empty, media, broadcast_media=True)
    assert out.count() == 0
    assert out.columns == ["doc_id", "ord", "kind", "text", "media_ref"]
    # shuffle-join path too
    assert extract_flat(empty, media, broadcast_media=False).count() == 0


def test_color_media_payload_extracts_identically(spark, sf_tiny):
    """S1/P1 color path: a media payload re-encoded as a tinted RGB PNG
    (color type 2) flows through the same kernel — decode_gray luma-projects
    it (the reference's imread + BGR2GRAY) and the recognized text is
    bit-identical to the grayscale original."""
    import numpy as np
    import pandas as pd

    from kiri_ocr_spark.fixtures import build_fixture
    from kiri_ocr_spark.imaging.png import decode_gray, encode_rgb
    from kiri_ocr_spark.pipeline import extract_span_rows

    docs, media = build_fixture(spark, sf_tiny)
    first = media.orderBy("media_ref").first()
    ref = first.media_ref

    gray = decode_gray(bytes(first.png_bytes))
    ink = gray < 128
    tinted = np.empty(gray.shape + (3,), dtype=np.uint8)
    tinted[:, :, 0] = np.where(ink, 20, 245)   # dark blue ink on
    tinted[:, :, 1] = np.where(ink, 20, 240)   # warm paper
    tinted[:, :, 2] = np.where(ink, 80, 220)
    color_bytes = encode_rgb(tinted)

    @F.pandas_udf("binary")
    def swap(refs: pd.Series, blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [color_bytes if r == ref else b for r, b in zip(refs, blobs)]
        )

    media2 = media.withColumn("png_bytes", swap("media_ref", "png_bytes"))
    base = (
        extract_span_rows(docs, media, broadcast_media=True)
        .filter(F.col("media_ref") == ref).orderBy("doc_id", "offset").collect()
    )
    got = (
        extract_span_rows(docs, media2, broadcast_media=True)
        .filter(F.col("media_ref") == ref).orderBy("doc_id", "offset").collect()
    )
    assert len(got) == len(base) >= 1
    for g, b in zip(got, base):
        assert g.text == b.text and g.text is not None
        assert g.n_lines == b.n_lines and g.n_lines > 0
