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
- a wave commits in one write: one ``groupBy(doc_id)`` yields each
  document's spans and lineage partials, and an ``Observation`` in the
  write's result stage sums them per partition. Then one lineage+metrics
  row per committed partition is appended to the checkpoint table
  (run_id, part_id, docs_done, spans_done, media_spans, mean_conf,
  kernel_ms, wave_wall_ms, committed_at) — kernel_ms is the TRUE
  per-partition OCR kernel time (sum of per-row batch-time shares the
  kernel stamps), wave_wall_ms the wave-level wall clock shared by every
  row of the wave; counts and kernel_ms are exact, mean_conf is exact up
  to summation order;
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
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..pipeline import extract_span_rows, ordered_spans

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
        wave = docs if waves == 1 else docs.filter(F.col("part_id") % waves == w)
        done = committed_parts(spark, ckpt_dir, run_id)
        todo = wave.join(F.broadcast(done), "part_id", "left_anti")

        t0 = time.monotonic()
        rows = extract_span_rows(todo.drop("part_id"), media, **extract_kwargs)
        # one aggregation per document yields its spans and its lineage
        # partials (A15: kernel_us sums the per-row timings the OCR kernel
        # stamps, so skewed rows show up in their own partition)
        assembled = with_part_id(
            rows.groupBy("doc_id").agg(
                ordered_spans(),
                F.count("*").alias("n_spans"),
                F.count(F.when(F.col("kind") == "media", 1)).alias("n_media"),
                F.sum("conf").alias("conf_sum"),
                F.sum("kernel_us").alias("kernel_us"),
            ),
            n_parts,
        )
        # the per-part sums ride on the output write, above the assembly
        # exchange: Spark merges a result-stage task's update once, while
        # a resubmitted map stage could count its rows twice
        parts = range(w, n_parts, waves)
        obs = Observation()
        partials = ("n_spans", "n_media", "conf_sum", "kernel_us")
        summed = {"docs": F.lit(1), **{c: F.col(c) for c in partials}}
        observed = assembled.observe(
            obs,
            *(
                F.sum(F.when(F.col("part_id") == p, v)).alias(f"{k}_{p}")
                for p in parts
                for k, v in summed.items()
            ),
        )
        # per-write dynamic overwrite: replace only the parts this wave
        # wrote, without changing the session's mode for every later write
        (
            observed.drop(*partials)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(out_dir)
        )

        # lineage + metrics, one row per partition just committed (a part
        # already committed or without documents sums to NULL docs)
        sums = obs.get
        wall_ms = int((time.monotonic() - t0) * 1000)
        now = datetime.now(timezone.utc)
        lineage = []
        for p in parts:
            n_docs, n_spans, n_media, conf, us = (sums[f"{k}_{p}"] for k in summed)
            if n_docs is not None:
                lineage.append((
                    run_id, p, n_docs, n_spans, n_media, conf / n_spans,
                    us // 1000, wall_ms, now, CHECKPOINT_SCHEMA_VERSION,
                ))
        if lineage:
            spark.createDataFrame(lineage, CHECKPOINT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(ckpt_dir)
        total += len(lineage)
    return total
