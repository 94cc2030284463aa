"""SparkSession factory tuned for the crawl workload.

Local mode is the sandbox; the config is written so the same code path scales
to a multi-executor cluster: AQE on (skew-join splitting + partition
coalescing), Arrow enabled for every pandas-UDF stage, explicit shuffle
partition count, and bounded Arrow batch sizes for large HTML payloads
(reference worker memory hygiene: docker-compose.yml:139 max-tasks-per-child,
mirrored here by maxRecordsPerBatch).

``crawler.engine.run_rounds`` turns AQE off for the length of a crawl and
restores it after: a round is a few dozen small queries over deep
union/persist plans, and AQE's per-stage re-planning of those plans cost
more CPU than the round's pages. Everything else keeps AQE on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_GB = 48


def default_driver_memory() -> str:
    """Default ``spark.driver.memory``: half of physical memory in whole GiB,
    at least 1g and at most ``MAX_DRIVER_MEM_GB``.

    In local mode the one JVM also hosts the executors; its resident size runs
    about 2 GB above the heap, and the Python workers need room beside it.
    """
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gb = min(MAX_DRIVER_MEM_GB, max(1, phys // 2 // 2**30))
    return f"{gb}g"


def get_spark(app_name: str = "genesis-spark",
              cores: int | str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``cores`` accepts an int (-> local[N]) or a full master string. Defaults to
    $SPARK_GRAFT_CPUS or '*'.

    The driver heap is $SPARK_DRIVER_MEM when set, else
    ``default_driver_memory()``: half of physical memory, 1g to 48g.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark")) \
        else f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = n if master == "local[*]" else max(
            8, int(str(cores).strip("*") or n) if str(cores).isdigit() else n)

    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM")
                or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # RAM-backed scratch for shuffle/spill files when available — the
    # sandbox's overlay filesystem is slow and bursty under concurrent
    # shuffle writers
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_all() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
