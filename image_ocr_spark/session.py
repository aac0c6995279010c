"""SparkSession construction with the engine's scale-oriented defaults.

Tuned for the job shape (SURVEY.md §4): one Arrow boundary (the tokenizer),
hash aggregations, broadcast dictionary joins, AQE everywhere.  On a real
cluster the same config ships via spark-submit --conf; nothing here is
local-mode-specific except the master default.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """Driver heap for this host: min(24g, half of physical memory).

    -Xms commits the whole heap at JVM start, so a fixed size that does
    not fit the host kills the gateway before any job runs; the other
    half stays with the Python workers and the page cache.
    SPARK_GRAFT_DRIVER_MEM overrides it."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        total_kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return f"{max(1024, min(24 * 1024, total_kb // 2048))}m"


DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()

ENGINE_CONFS = {
    # single-JVM local mode: driver heap IS executor heap.
    # -Xms pinned to -Xmx: a growing heap caused multi-pass GC thrash that
    # showed up as 10-20x stage-CPU swings in bench runs.
    "spark.driver.memory": DRIVER_MEM,
    "spark.driver.extraJavaOptions": "-Xms" + DRIVER_MEM + " -XX:+UseG1GC",
    "spark.driver.maxResultSize": "4g",
    # AQE: runtime shuffle coalescing + skew-join splitting (north rule)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow boundary: bound tokenizer batch memory — html payloads are
    # ~2-50 KB each, 2048 rows/batch keeps batches in the tens of MB
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # parquet scans: split fat html columns sanely at 100 TB
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    # timestamps in fixtures are UTC
    "spark.sql.session.timeZone": "UTC",
    # bucketed-table warehouse (in-memory catalog): keep it off the repo cwd
    # in local mode and per-user so concurrent runs on a shared host don't
    # clobber each other; a cluster deployment overrides via --conf
    "spark.sql.warehouse.dir": os.path.join(
        tempfile.gettempdir(), f"image_ocr_spark-warehouse-{os.getuid()}"
    ),
}


def get_spark(
    master: str | None = None,
    app_name: str = "image_ocr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
