"""SparkSession construction with the engine's scale-oriented defaults.

Tuned for the job shape (SURVEY.md §4): one Arrow boundary (the tokenizer),
hash aggregations, broadcast dictionary joins, AQE everywhere.  On a real
cluster the same config ships via spark-submit --conf.

Local masters also get ``spark.python.daemon.module =
image_ocr_spark.workerd``, which imports pyspark from the interpreter's
site-packages (the driver's copy) instead of the archives Spark puts first
on every Python worker's path (``pyspark.zip``, the py4j zip, the
spark-core jar).  Each task's ``importlib.invalidate_caches()`` makes
Python 3.11 re-read the whole central directory of every archive a worker
holds an importer for: 0.11-0.15 s per task measured on a 4-core VM,
against <1 ms for an identity ``mapInArrow`` body.  The cost repeats per
task wave: an identity ``mapInArrow`` over ``range(4000)`` took 0.36 / 1.15 s
at 1 / 16 partitions with the stock daemon and 0.25 / 0.48 s with
``workerd`` (medians of 6 warm passes each).  In local mode driver and
workers share the interpreter and filesystem; a cluster keeps the stock
daemon, since this package, shipped there with ``--py-files``, is not
importable when the daemon starts.  Locally, too, the module is chosen
only if a worker can import this package (from the driver's cwd,
``PYTHONPATH`` or site-packages).
"""

from __future__ import annotations

import os
import site
import tempfile
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession


def mem_total_mib() -> int:
    """Physical memory of this host in MiB (MemTotal of /proc/meminfo)."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        total_kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return total_kb // 1024


def default_driver_mem() -> str:
    """Driver heap for this host: min(24g, half of physical memory).

    -Xms commits the whole heap at JVM start, so a fixed size that does
    not fit the host kills the gateway before any job runs; the other
    half stays with the Python workers and the page cache.
    SPARK_GRAFT_DRIVER_MEM overrides it."""
    return f"{max(1024, min(24 * 1024, mem_total_mib() // 2))}m"


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


def _worker_finds_package() -> bool:
    """True when a local worker can import this package: the daemon runs
    with the driver's cwd first on its path, then ``PYTHONPATH`` and the
    interpreter's site-packages."""
    path = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    path += site.getsitepackages()
    return PathFinder.find_spec("image_ocr_spark", path) is not None


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
    local = master == "local" or master.startswith("local[")
    if local and _worker_finds_package():
        builder = builder.config(
            "spark.python.daemon.module", "image_ocr_spark.workerd"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
