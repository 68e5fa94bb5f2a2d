"""Kill/resume semantics (SURVEY.md §5.2 item 6, FIXTURES.md §5)."""

from __future__ import annotations

import glob
import shutil
import os

import pytest
from pyspark.sql import functions as F

from kiri_ocr_spark.fixtures import build_fixture
from kiri_ocr_spark.operators.checkpoint import (
    CHECKPOINT_SCHEMA,
    committed_parts,
    run_extraction,
    with_part_id,
)

N_PARTS = 8


@pytest.fixture(scope="module")
def fixture_tables(spark, sf_tiny):
    docs, media = build_fixture(spark, sf_tiny)
    return docs.cache(), media.cache()


def _read_sorted(spark, out_dir):
    return (
        spark.read.parquet(out_dir)
        .select("doc_id", F.expr("to_json(spans)").alias("j"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_single_shot_then_noop_resume(spark, fixture_tables, tmp_path):
    docs, media = fixture_tables
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n = run_extraction(spark, docs, media, out, ckpt, "run1", n_parts=N_PARTS)
    assert n == N_PARTS
    assert committed_parts(spark, ckpt, "run1").count() == N_PARTS
    # re-invocation: everything committed -> zero partitions recomputed
    n2 = run_extraction(spark, docs, media, out, ckpt, "run1", n_parts=N_PARTS)
    assert n2 == 0


def test_kill_and_resume_recomputes_only_missing(spark, fixture_tables, tmp_path):
    docs, media = fixture_tables
    out_a, ckpt_a = str(tmp_path / "out_a"), str(tmp_path / "ckpt_a")
    out_b, ckpt_b = str(tmp_path / "out_b"), str(tmp_path / "ckpt_b")

    # reference single-shot run
    run_extraction(spark, docs, media, out_a, ckpt_a, "ref", n_parts=N_PARTS)
    ref = _read_sorted(spark, out_a)

    # "killed" run: full run, then simulate the crash by deleting the output
    # partitions AND checkpoint rows for half the part_ids
    run_extraction(spark, docs, media, out_b, ckpt_b, "r2", n_parts=N_PARTS)
    dead = set(range(N_PARTS // 2))
    for pid in dead:
        for path in glob.glob(os.path.join(out_b, f"part_id={pid}")):
            shutil.rmtree(path)
    surviving = (
        spark.read.parquet(ckpt_b)
        .filter(~F.col("part_id").isin(list(dead)))
        .toPandas()
    )
    for f in glob.glob(os.path.join(ckpt_b, "*.parquet")):
        os.remove(f)
    spark.createDataFrame(surviving, CHECKPOINT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(ckpt_b)

    # resume: must process exactly the dead partitions
    n = run_extraction(spark, docs, media, out_b, ckpt_b, "r2", n_parts=N_PARTS)
    assert n == len(dead)

    # final output identical to single-shot
    got = _read_sorted(spark, out_b)
    assert got.equals(ref)

    # surviving partitions were NOT recomputed: exactly one checkpoint row
    # each; dead ones have two (original + resume append ... original rows
    # were deleted, so also one) -> every part has exactly one row and
    # totals cover all docs
    ckpt_rows = spark.read.parquet(ckpt_b).toPandas()
    assert sorted(ckpt_rows["part_id"].tolist()) == list(range(N_PARTS))
    assert ckpt_rows["docs_done"].sum() == docs.count()


def test_per_partition_kernel_time_is_distinct(spark, fixture_tables, tmp_path):
    """A15 honesty: kernel_ms must be the partition's OWN kernel time (sum
    of per-row batch shares), not one wave-level wall stamped everywhere.
    Partitions hold different media loads, so the values must differ;
    wave_wall_ms is the per-wave constant and must dominate each part."""
    docs, media = fixture_tables
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # The fused+memoized recognizer dropped the per-span kernel cost to
    # ~0.35 ms (decode+detect dominate), so the near-uniform hash split
    # of the full fixture no longer separates partitions beyond shared-
    # host noise. Engineer a 10x span contrast instead: the 16-image
    # skew-tail docs vs single-media docs — multiplicative contention
    # inflates both sides and preserves the ordering, and the 3x-median
    # trim below absorbs additive single-task preemption spikes.
    n_media = F.expr("size(filter(spans, s -> s.kind = 'media'))")
    heavy_docs = docs.filter(n_media >= 16).limit(1)
    light_docs = docs.filter(n_media <= 1).limit(12)
    skew = heavy_docs.unionByName(light_docs)
    run_extraction(spark, skew, media, out, ckpt, "kt", n_parts=4)
    rows = spark.read.parquet(ckpt).toPandas()
    assert len(rows) == 4
    # distinct per-partition values (a constant stamp would collapse to 1)
    assert rows["kernel_ms"].nunique() > 1
    assert (rows["kernel_ms"] >= 0).all()
    # the wave wall is a single per-wave constant and bounds any part's time
    assert rows["wave_wall_ms"].nunique() == 1
    assert (rows["kernel_ms"] <= rows["wave_wall_ms"]).all()
    # partitions with more media spans accumulate more kernel time.
    # Preemption spikes are ADDITIVE and hit the near-zero light
    # partitions, so only lights are trimmed against the median; the
    # heavy partition is the signal and is never trimmed (in a QUIET
    # window the memoized recognizer reads 0 ms on every light, the
    # median is 0, and a global trim would discard the heavy's
    # legitimate ~10 ms as the 'outlier').
    med = max(float(rows["kernel_ms"].median()), 1.0)
    heavy_idx = rows["media_spans"].idxmax()
    lights = rows.drop(index=heavy_idx)
    light = float(
        lights["kernel_ms"].where(lights["kernel_ms"] <= 3 * med)
        .fillna(med).max()
    )
    heavy = float(rows.loc[heavy_idx, "kernel_ms"])
    assert rows["media_spans"].max() >= 3 * rows["media_spans"].min() + 4
    assert heavy > light, (rows.to_dict("records"), heavy, light)


def test_pre_v2_checkpoint_dir_refused(spark, tmp_path):
    """Schema-versioning guard (advisor r3): a checkpoint dir written by
    the pre-rename schema (no schema_version column) must be refused, not
    silently appended to — mixed-schema parquet makes metric reads
    file-order dependent."""
    ckpt = str(tmp_path / "old_ckpt")
    spark.createDataFrame(
        [("r1", 0, 5_000)], "run_id string, part_id int, wall_ms long"
    ).write.parquet(ckpt)
    with pytest.raises(ValueError, match="pre-v2"):
        committed_parts(spark, ckpt, "r1")


def test_part_id_stability(spark, fixture_tables):
    """part_id depends only on doc_id and n_parts — stable across runs and
    cluster sizes (resume correctness at any parallelism)."""
    docs, _ = fixture_tables
    a = with_part_id(docs, N_PARTS).select("doc_id", "part_id").toPandas()
    b = with_part_id(docs, N_PARTS).select("doc_id", "part_id").toPandas()
    assert a.sort_values("doc_id").equals(b.sort_values("doc_id"))
    assert a["part_id"].between(0, N_PARTS - 1).all()


def test_waves_commit_every_part_once(spark, fixture_tables, tmp_path):
    """waves > 1 splits the job into sub-jobs by part_id % waves: each
    part commits exactly once, and the output equals a one-wave run's."""
    docs, media = fixture_tables
    out_1, ckpt_1 = str(tmp_path / "out_1"), str(tmp_path / "ckpt_1")
    out_3, ckpt_3 = str(tmp_path / "out_3"), str(tmp_path / "ckpt_3")
    run_extraction(spark, docs, media, out_1, ckpt_1, "w1", n_parts=N_PARTS)
    n = run_extraction(
        spark, docs, media, out_3, ckpt_3, "w3", n_parts=N_PARTS, waves=3
    )
    assert n == N_PARTS
    ckpt_rows = spark.read.parquet(ckpt_3).toPandas()
    assert sorted(ckpt_rows["part_id"].tolist()) == list(range(N_PARTS))
    assert _read_sorted(spark, out_3).equals(_read_sorted(spark, out_1))


def test_run_extraction_leaves_session_overwrite_mode_alone(
    spark, fixture_tables, tmp_path
):
    """run_extraction's dynamic partition overwrite is per write: the
    session's partitionOverwriteMode is unchanged afterwards, so a later
    plain overwrite of a partitioned dir still replaces its old
    partitions, while a re-run of a run id still overwrites only the
    parts it recomputes."""
    docs, media = fixture_tables
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        docs = docs.filter(F.col("doc_id") % 4 == 0)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        assert run_extraction(spark, docs, media, out, ckpt, "ow", n_parts=4) == 4
        assert spark.conf.get(key) == "static"

        # a static overwrite elsewhere replaces every old partition
        plain = str(tmp_path / "plain")
        spark.range(4).withColumn("p", F.col("id") % 2).write.mode(
            "overwrite"
        ).partitionBy("p").parquet(plain)
        spark.range(2).withColumn("p", F.lit(1).cast("long")).write.mode(
            "overwrite"
        ).partitionBy("p").parquet(plain)
        assert [p for p in os.listdir(plain) if p.startswith("p=")] == ["p=1"]

        # re-run after losing one part's commit: that part is rewritten,
        # the other parts' output survives the overwrite
        ref = _read_sorted(spark, out)
        kept = spark.read.parquet(ckpt).filter(F.col("part_id") != 0).toPandas()
        shutil.rmtree(ckpt)
        spark.createDataFrame(kept, CHECKPOINT_SCHEMA).write.parquet(ckpt)
        assert run_extraction(spark, docs, media, out, ckpt, "ow", n_parts=4) == 1
        assert sorted(p for p in os.listdir(out) if p.startswith("part_id=")) == [
            f"part_id={i}" for i in range(4)
        ]
        assert _read_sorted(spark, out).equals(ref)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prior)
