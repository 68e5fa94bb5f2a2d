#!/usr/bin/env python
"""Production entry point: checkpointed extraction via spark-submit.

Ship and run (north_star "ships as spark-submit --py-files modules"):

    cd /root/repo && scripts/submit.sh \
        --docs /path/docs_parquet --media /path/media_parquet \
        --out /path/out --ckpt /path/ckpt --run-id run1 [--n-parts 64]

On a real cluster, add --master/--deploy-mode to submit.sh's spark-submit
line; the job itself is cluster-agnostic (no local paths, no driver-side
collection of data rows). Re-running the same command after a kill resumes
from the committed partitions (anti-join resume, operators/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="documents parquet dir")
    ap.add_argument("--media", required=True, help="media payload parquet dir")
    ap.add_argument("--out", required=True, help="output parquet dir")
    ap.add_argument("--ckpt", required=True, help="checkpoint table dir")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-parts", type=int, default=64)
    ap.add_argument(
        "--waves",
        type=int,
        default=4,
        help="incremental commit cadence: output+lineage land in this many "
        "sub-jobs, so a kill loses at most one wave",
    )
    ap.add_argument("--salt-buckets", type=int, default=64)
    ap.add_argument(
        "--broadcast-media",
        action="store_true",
        help="broadcast the media payload table (use when it fits in memory)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from kiri_ocr_spark.operators.checkpoint import committed_parts, run_extraction
    from kiri_ocr_spark.session import ARROW_BATCH_ROWS

    # master/deploy-mode come from spark-submit; only job-level conf here
    spark = (
        SparkSession.builder.appName(f"kiri-extract-{args.run_id}")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.docs)
    media = spark.read.parquet(args.media)
    pre_committed = committed_parts(spark, args.ckpt, args.run_id).count()
    t0 = time.monotonic()
    n_done = run_extraction(
        spark,
        docs,
        media,
        out_dir=args.out,
        ckpt_dir=args.ckpt,
        run_id=args.run_id,
        n_parts=args.n_parts,
        waves=args.waves,
        salt_buckets=args.salt_buckets,
        broadcast_media=args.broadcast_media,
    )
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "partitions_processed": n_done,
                "partitions_skipped": pre_committed,
                "wall_sec": round(wall, 3),
                # resumed = this run found prior committed work and skipped
                # it (a mid-kill restart); the old n_done==0 definition only
                # flagged the everything-was-already-done case
                "resumed": pre_committed > 0,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
