"""Host-derived Spark session, memory sampler and host-speed canary.

The session shape comes from this host, not from pinned constants:
N task threads = the CPUs this process may run on (what ``nproc`` prints),
and a JVM heap of 1/8 of MemTotal clamped to [1, 4] GiB, which leaves the
rest of memory to the N Python workers and the OS page cache.  Both are
passed through ``get_spark(..., extra_conf=...)`` and
``SPARK_GRAFT_DRIVER_MEM``; only one JVM runs at a time.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from typing import Dict, Optional


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return max(1024, min(4096, mem_total_mb() // 8))


def prepare_env(root: str, work: str) -> None:
    """Process environment for the JVM and its Python workers; must run
    before pyspark or the library is imported (session.py reads
    SPARK_GRAFT_DRIVER_MEM at import, tempfile caches TMPDIR)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb()}m"
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(threads: int, partitions: int, work: str):
    from image_ocr_spark.session import get_spark

    heap = f"{heap_mb()}m"
    conf = {
        "spark.driver.memory": heap,
        # same GC/heap pinning as session.py; tmp files and crash logs go
        # to the work dir, no hsperfdata file at all
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+UseG1GC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-XX:ErrorFile={os.path.join(work, 'hs_err_pid%p.log')}"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(
        f"local[{threads}]",
        app_name=f"perfbench-{threads}",
        shuffle_partitions=partitions,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants_rss(root: Optional[int] = None) -> Dict[int, int]:
    """{pid: rss bytes} of every live descendant of ``root`` (default: this
    process)."""
    parent: Dict[int, int] = {}
    rss: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process exited while listing
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * _PAGE
    me = root or os.getpid()
    out = {}
    for pid in rss:
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out[pid] = rss[pid]
    return out


class RssSampler:
    """Peak summed RSS of every descendant process (the JVM and its Python
    workers), polled every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, sum(descendants_rss().values()) / 1e6)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait until
    every descendant -- JVM, Python worker daemon, workers -- is gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    jvm_tree = {gw.proc.pid, *descendants_rss(gw.proc.pid)}  # the JVM and its Python workers
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    # orphaned workers are re-parented, so wait on the pids themselves
    while any(os.path.exists(f"/proc/{p}") for p in jvm_tree) and time.monotonic() < deadline:
        time.sleep(0.1)


def canary_ops_per_s(ops: int = 300_000, reps: int = 3) -> float:
    """Fixed pure-Python loop that imports nothing from the repository;
    best of ``reps``.  It separates host drift from code change."""
    best = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(ops):
            acc = (acc * 31 + i) % 1000003
        best = max(best, ops / (time.perf_counter() - t0))
    return best
