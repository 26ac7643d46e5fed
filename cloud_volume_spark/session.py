"""SparkSession factory tuned for the chunk-table workload.

Replaces the reference's hand-rolled execution stack (thread pools,
green threads, multiprocess fan-out — ``threaded_queue.py``,
``scheduler.py``) with Spark's scheduler. Local defaults are sized
from the host (cores, RAM), and the knobs are the ones that matter on a
1000-executor cluster: AQE on (runtime re-plan, skew-join splitting),
Arrow on (pandas-UDF batches), shuffle partitions bounded by AQE
coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory_for(total_bytes: int) -> str:
    """Default ``spark.driver.memory`` for a host with ``total_bytes``
    of RAM: about 60% of it, capped at 48g, at least 1g. In local mode
    the driver JVM also hosts every executor thread, so its heap must
    leave room for the Python workers, off-heap Arrow/Netty buffers and
    the OS; a fixed 48g heap on a smaller host lets the JVM grow until
    the kernel kills it."""
    return f"{max(1, min(48, int(total_bytes * 0.6) >> 30))}g"


def host_memory_bytes(meminfo: str = "/proc/meminfo") -> int:
    """Physical RAM: ``MemTotal`` from ``meminfo``, else the POSIX page
    count (hosts without procfs)."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def get_spark(
    app_name: str = "cloud-volume-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Every setting here is also correct at cluster scale:
    - AQE coalesces the static shuffle-partition count at runtime and
      splits skewed joins (hot morton keys / hot labels).
    - Arrow makes mapInPandas/applyInPandas codec UDFs batch-columnar.
    - ``maxPartitionBytes`` 128 MB keeps scan tasks ≥ the ~4 MB/task
      floor that BASELINE.md shows is needed to amortize request
      overhead, without exceeding executor memory at 100 TB.
    """
    # make this package importable in Python workers regardless of the
    # caller's cwd (executors unpickle UDFs that reference our modules)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pythonpath if pythonpath else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-mode driver hosts all executor threads: the heap takes
        # most of the host (see driver_memory_for), never all of it
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or driver_memory_for(host_memory_bytes()),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r14 (guide §4.2): bound Arrow batches by BYTES, not rows —
        # the old 32-row cap protected MB-scale chunk blobs but forced
        # ~150x more Python batch dispatches on narrow rows (text docs,
        # embeddings). 1024 rows or 16 MB, whichever binds first: blob
        # paths land at ~8-32 rows/batch exactly as before, narrow-row
        # mapInPandas paths batch 32x larger
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(16 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # tolerate TIMESTAMP(NANOS) parquet (events.ts): read as long,
        # converted back to timestamp in operators.common.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.maxResultSize", "4g")
        # dump a native traceback if a Python worker dies ("Python
        # worker exited unexpectedly" is undebuggable without it).
        # Default OFF: a 3-leg quiet-window A/B (OPTIMIZATION_r14.md)
        # measured it costing up to ~1 s/query on worker-heavy paths
        # (it changes worker lifecycle), so benches run without it;
        # tests/conftest.py turns it on, where the flaky worker crash
        # actually lives.
        .config("spark.python.worker.faulthandler.enabled",
                os.environ.get("SPARK_GRAFT_FAULTHANDLER", "false"))
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled",
                os.environ.get("SPARK_GRAFT_FAULTHANDLER", "false"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
