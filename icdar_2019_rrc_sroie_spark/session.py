"""SparkSession factory with scale-oriented defaults.

The same configuration is used by tests, ``bench.py`` and the driver's
smoke checks. On a real cluster the identical settings apply — nothing
here is local-mode specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dirs() -> str:
    """Prefer tmpfs for shuffle files in the sandbox: profiling showed
    shuffle-merge I/O (copyFileStreamNIO) serializing the reduce stage
    on the disk-backed default /tmp. On a real cluster this maps to
    NVMe-backed spark.local.dir, which is standard practice."""
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"

#: Confs applied everywhere. AQE handles runtime skew/coalesce; Arrow batches
#: bound the memory of the (few) pandas kernels; shuffle partition count is
#: sized for the sandbox and overridden per-cluster in production.
ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The extraction reduce stage is CPU-bound (regex/array algebra), so
    # 64MB-of-bytes partitions are minutes-of-CPU partitions; a smaller
    # advisory size keeps post-shuffle parallelism at core count.
    # Profiled: 64m coalesced 128 reduce partitions to ~7, leaving 60%
    # of a 32-core box idle; 8m restores full occupancy.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.local.dir": _local_dirs(),
    "spark.ui.enabled": "false",
    # PySpark's DataFrame call-site capture: with it on, every Column
    # operator walks the Python stack and makes extra py4j round trips,
    # about 2-3x the py4j calls and Python CPU of building the flagship
    # plan. Static, so it is set here. With it off an error still names
    # the failing expression; its query context just no longer carries
    # the Python file and line that built it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Shuffle blocks living in RAM (tmpfs) gain nothing from lz4 — profiled
# 3× throughput on the 32-thread flagship with compression off. On a
# real cluster (disk/network shuffle) compression stays on.
if ENGINE_CONFS["spark.local.dir"].startswith("/dev/shm"):
    ENGINE_CONFS["spark.shuffle.compress"] = "false"
    ENGINE_CONFS["spark.shuffle.spill.compress"] = "false"


def get_spark(app_name: str = "sroie-spark", master: str | None = None,
              extra_confs: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Runs no job: a query with an Arrow kernel forks its Python workers
    on first use, and ``spark.python.worker.reuse`` (default on) keeps
    them for later queries."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for key, value in {**ENGINE_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
