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

Compile policy (``C2_HOT_ONLY``): the driver JVM starts with HotSpot's four
tier-4 thresholds raised tenfold, so only methods that prove hot reach the
C2 compiler and lukewarm analyzer and planner code stays at C1. A cold crawl
is the short-query case of *Adaptive Execution of Compiled Queries* (ICDE
2018): compile time outweighs run time. Split by JVM thread
(``tools/cpu_split.py``, one crawl_rounds operation, seed 1, 4-vCPU host),
the JDK defaults spent 16 of the operation's 56 CPU s in C2 compiler
threads, 4 s in C1 ones and 8 s in JVM threads that exited during it
(compiler threads start and stop on demand), against 5 s in executor task
threads. With this policy the same groups took 6, 4 and 4 of 42 CPU s. The
trade-off: hot code (the install's generated code, a long crawl's inner
loops) still reaches C2, after ten times as many calls and loop iterations,
and runs at C1 speed until then. Plans and results do not change. The flags
go through ``spark.driver.defaultJavaOptions``, so a caller's
``spark.driver.extraJavaOptions`` adds to them rather than replacing them.
They apply to the driver JVM only, which in local mode runs the executors
too; executor JVMs of a cluster keep the JDK defaults, because that case was
not measured.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_GB = 48

# HotSpot's tier-4 (C2) thresholds, ten times the JDK 17 defaults
# (5000/600/15000/40000); see the module docstring
C2_HOT_ONLY = ("-XX:Tier4InvocationThreshold=50000 "
               "-XX:Tier4MinInvocationThreshold=6000 "
               "-XX:Tier4CompileThreshold=150000 "
               "-XX:Tier4BackEdgeThreshold=400000")

# SQL executions kept in the status store; each holds its plan string,
# 2-5 MB for a crawl round
RETAINED_SQL_EXECUTIONS = 10


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
        .config("spark.sql.ui.retainedExecutions",
                str(RETAINED_SQL_EXECUTIONS))
        .config("spark.driver.defaultJavaOptions", C2_HOT_ONLY)
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
