"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: AQE on (runtime coalesce + skew-join), Arrow enabled for the
pandas-UDF geometry/image kernels, shuffle partitions sized to cores
(not the 200 default), UTC session time zone so DuckDB-oracle
comparisons are stable.

Per-task Python worker cost. Every Spark task that runs a Python UDF
hands its rows to a pyspark worker, and the worker's set-up for a task
can cost more than the rows. On Python < 3.13 most of that set-up was
``importlib.invalidate_caches()``, which re-read the whole directory of
``pyspark.zip`` once per zipimporter (16 of them) in every task. A warm
``get_buildings()`` plus a PIP join on perfbench's grid-64 world
(4 cores, 25 Python tasks) used 5.8-6.8 s of worker CPU with the
re-read and 1.3-1.5 s without it. Importing ``pyrosm_spark`` in a
worker swaps in a re-read that runs only when an archive changed (see
the package ``__init__``). The other lever is fewer Python tasks per
call: ``operators.geometry.spread_for_udf`` lets AQE size the Python
stage, and the PIP and raster covers take their bbox in Catalyst
rather than from a second UDF.

``spark.driver.memory`` defaults to half of the host's physical
memory, between 1 GB and 16 GB; ``SPARK_DRIVER_MEM`` overrides it. In
local mode the driver JVM also runs the executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MB = 1024 * 1024


def default_driver_memory(host_bytes: int | None = None) -> str:
    """``spark.driver.memory`` default: ``$SPARK_DRIVER_MEM`` if set,
    else half of ``host_bytes`` (default: this host's physical memory)
    clamped to 1-16 GB, as a ``<n>m`` string."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    if host_bytes is None:
        host_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(max(host_bytes // 2 // _MB, 1024), 16 * 1024)
    return f"{mb}m"


def get_spark(
    app_name: str = "pyrosm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster this function is a no-op passthrough: spark-submit
    owns master/memory and we only set SQL-level confs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(master.split("[")[1].rstrip("]*") or 32), 8)
        except (IndexError, ValueError):
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces shuffle partitions by BYTES; geometry/tiling
        # stages are CPU-dense but byte-small (struct-of-double arrays),
        # so the 64 MB default advisory starves cores right after the
        # coordinate join (measured 3-4x on a 475k-way world). 4 MB
        # keeps local parallelism; cluster deployments override.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                str(4 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
