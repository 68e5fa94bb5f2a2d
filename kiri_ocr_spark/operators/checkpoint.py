"""Checkpoint / resume protocol (SURVEY.md §2.1 S11 analogue, north_star:
"a killed job resumes from the last committed snapshot without recomputing
finished partitions").

Design (FIXTURES.md §5 schema):
- documents are bucketed into ``n_parts`` logical partitions by
  ``pmod(xxhash64(doc_id), n_parts)`` — stable across runs and cluster
  sizes;
- the extraction output is written ``partitionBy(part_id)`` with dynamic
  partition-overwrite, so re-processing a partition is idempotent
  (overwrites exactly its own files, an Iceberg-snapshot-commit stand-in);
- after the output for the pending partitions lands, one lineage+metrics
  row per partition is appended to the checkpoint table
  (run_id, part_id, docs_done, spans_done, media_spans, mean_conf,
  kernel_ms, wave_wall_ms, committed_at) — kernel_ms is the TRUE
  per-partition OCR kernel time (sum of per-row batch-time shares the
  kernel stamps), wave_wall_ms the wave-level wall clock shared by every
  row of the wave;
- resume = left_anti join of the input against committed part_ids (J7):
  finished partitions are never read past the scan filter, let alone
  recomputed. A crash between output-write and checkpoint-append only
  causes those in-flight partitions to be redone — idempotently.

At 100 TB the same protocol holds: part_id is the Iceberg partition key,
the anti-join is a broadcast join against a tiny committed-parts table,
and dynamic overwrite maps to Iceberg's overwrite-by-filter snapshot.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import assemble_documents, extract_span_rows

# v2: wall_ms split into kernel_ms (true per-partition kernel time) +
# wave_wall_ms (per-wave constant). A checkpoint dir written by an older
# schema must not be appended to — mixed-schema parquet makes metric
# reads file-order dependent — so every row carries schema_version and
# both the reader and the writer refuse unversioned (pre-v2) dirs.
CHECKPOINT_SCHEMA_VERSION = 2
CHECKPOINT_SCHEMA = (
    "run_id string, part_id int, docs_done long, spans_done long, "
    "media_spans long, mean_conf double, kernel_ms long, wave_wall_ms long, "
    "committed_at timestamp, schema_version int"
)


def with_part_id(docs: DataFrame, n_parts: int) -> DataFrame:
    """``docs`` plus its ``part_id`` column: the one partition rule every
    stage of the checkpointed job uses (input waves, output, lineage)."""
    return docs.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int")
    )


def committed_parts(spark: SparkSession, ckpt_dir: str, run_id: str) -> DataFrame:
    if os.path.isdir(ckpt_dir) and any(
        f.endswith(".parquet") for f in os.listdir(ckpt_dir)
    ):
        table = spark.read.parquet(ckpt_dir)
        if "schema_version" not in table.columns:
            raise ValueError(
                f"checkpoint dir {ckpt_dir!r} was written by a pre-v2 "
                "schema (no schema_version column); appending would mix "
                "schemas in one parquet table. Start a fresh checkpoint "
                "dir — resume lineage does not carry across the upgrade."
            )
        return (
            table.filter(F.col("run_id") == run_id)
            .select("part_id")
            .distinct()
        )
    return spark.createDataFrame([], "part_id int")


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str,
    n_parts: int = 16,
    waves: int = 1,
    **extract_kwargs,
) -> int:
    """Checkpointed extraction. Returns number of partitions processed this
    invocation (0 = everything was already committed).

    ``waves`` > 1 commits output + lineage incrementally in that many
    sub-jobs (wave w = partitions with part_id % waves == w), so a job
    killed mid-run loses at most one wave of work instead of everything —
    the commit cadence knob for the north_star's "resumes from the last
    committed snapshot". At 10^12 docs each wave is one Iceberg snapshot."""
    docs = with_part_id(docs, n_parts)
    total = 0
    for w in range(waves):
        wave_docs = docs if waves == 1 else docs.filter(
            F.col("part_id") % waves == w
        )
        total += _run_pending(
            spark, wave_docs, media, out_dir, ckpt_dir, run_id, n_parts,
            **extract_kwargs,
        )
    return total


def _run_pending(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str,
    n_parts: int,
    **extract_kwargs,
) -> int:
    """One committed sub-job over ``docs`` (already carrying part_id)."""
    done = committed_parts(spark, ckpt_dir, run_id)
    todo = docs.join(F.broadcast(done), "part_id", "left_anti")

    t0 = time.monotonic()
    rows = with_part_id(
        extract_span_rows(
            todo.drop("part_id"), media, **extract_kwargs
        ),
        n_parts,
    )
    # both the output write and the metrics agg consume `rows`: persist so
    # the OCR kernel runs ONCE per wave, not twice (and the committed
    # lineage metrics describe exactly the rows that were written)
    rows = rows.persist()
    assembled = with_part_id(
        assemble_documents(rows.drop("part_id", "conf", "n_lines", "kernel_us")),
        n_parts,
    )
    # per-write dynamic overwrite: replace only the parts this wave wrote,
    # without changing the session's mode for every later write
    (
        assembled.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(out_dir)
    )

    # lineage + metrics, one row per partition just committed
    metrics = (
        rows.groupBy("part_id")
        .agg(
            F.countDistinct("doc_id").alias("docs_done"),
            F.count("*").alias("spans_done"),
            F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)).alias(
                "media_spans"
            ),
            F.avg("conf").alias("mean_conf"),
            # A15: honest per-partition kernel time — the sum of the
            # per-row timings the OCR kernel stamps inside its row loop
            # (each row carries its own measured cost, so skewed rows
            # show up in their partition, unlike a wave-level stamp)
            (F.sum("kernel_us") / 1000).cast("long").alias("kernel_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn(
            "wave_wall_ms",
            F.lit(int((time.monotonic() - t0) * 1000)).cast("long"),
        )
        .withColumn("committed_at", F.current_timestamp())
        .withColumn(
            "schema_version", F.lit(CHECKPOINT_SCHEMA_VERSION).cast("int")
        )
        .select(
            "run_id",
            "part_id",
            "docs_done",
            "spans_done",
            "media_spans",
            "mean_conf",
            "kernel_ms",
            "wave_wall_ms",
            "committed_at",
            "schema_version",
        )
    )
    pdf = metrics.toPandas()  # small: one row per partition
    rows.unpersist()
    if len(pdf):
        spark.createDataFrame(pdf, CHECKPOINT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(ckpt_dir)
    return len(pdf)
