"""SparkSession factory with the scale-oriented defaults this engine needs.

Tuned per SURVEY.md §4.2/§4.3: Arrow on for all pandas-UDF stages, bounded
Arrow batch sizes so image rows make cache-friendly kernel batches, and
shuffle partitions sized to the local core count (on a real cluster: ~2-3x
total executor cores). AQE with partition coalescing and skew-join
splitting, and 128 MiB file splits, are Spark's own defaults and are not
restated here.

Python workers fork from `kiri_ocr_spark.daemon` instead of the stock
`pyspark.daemon`. Every Python task calls `importlib.invalidate_caches()`,
and on CPython 3.11 each of a worker's 16 zipimporters (over pyspark.zip,
py4j and the 15 MB spark-core jar) then re-reads its archive's whole central
directory: 155 ms per task on a quiet 4-core host, 170-506 ms under load.
The daemon's guard skips the re-read while the archive's stat stamp is
unchanged. Only these sessions set it: they run in local mode with the repo
root on the workers' PYTHONPATH (below), so the daemon can import the
package. A spark-submit run (`scripts/extract_job.py`) builds its own
session and keeps the stock daemon, because `--py-files` reach a cluster
worker only per task, after the daemon has started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# image rows are fat; keep Arrow batches moderate so the OCR kernel gets
# steady work without buffering huge byte columns (not a measured optimum;
# every session builder reads this one value)
ARROW_BATCH_ROWS = 256


def get_spark(
    app_name: str = "kiri-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    # make this package importable in executor Python workers (local mode
    # inherits the env; on a cluster, ship via spark-submit --py-files)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # scan-parallelism floor (guide §6): single-file parquet sources
        # otherwise scan as 1-2 tasks and starve CPU-heavy per-row work
        # (the ANN dot-product scans ran 2 tasks on 32 cores at the
        # driver's sf1.0). Derived from the session's core count, not a
        # constant, so cluster deployments scale it with executor cores.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # no per-task zip directory re-reads (module docstring)
        .config("spark.python.daemon.module", "kiri_ocr_spark.daemon")
        # UI off by default (tests spawn many sessions); bench.py turns it
        # on to pull per-stage task-time distributions over the REST API
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    return builder.getOrCreate()
