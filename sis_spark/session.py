"""SparkSession factory with the configs this engine assumes.

Arrow execution is mandatory (all custom kernels are Arrow-vectorized
pandas UDFs, cf. the batched double[] transform API of the reference:
R/referencing/operation/transform/AbstractMathTransform.java:406-739 —
that batch-array design is re-expressed as numpy over Arrow batches).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SIS_SPARK_DRIVER_MEM``, else half of physical RAM capped at 48g."""
    env = os.environ.get("SIS_SPARK_DRIVER_MEM")
    if env:
        return env
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, mb // 2)}m"


def get_spark(
    app_name: str = "sis_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``.  Shuffle partitions default to the
    core count — correct for local mode; on a real cluster pass
    ~2-3× total executor cores.

    The parallel-listing threshold is raised so that a read of an explicit
    file list (a snapshot table's manifest selection) stats the files on
    the driver instead of starting a listing job once it names more than
    Spark's default of 32 paths.  The sessions built here are local mode,
    where driver and executors share the machine and filesystem; a stat
    there costs less than a listing job (measured on the ``join_tiles``
    benchmark, 4 CPUs).  A cluster session should decide it anew.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else None
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or cores or os.cpu_count() or 8
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
