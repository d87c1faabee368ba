"""SparkSession factory tuned for the local test harness.

Designed for a multi-executor cluster: nothing here assumes local mode
except the master URL default; shuffle partitioning is sized from the
requested parallelism so the same code scales to a real cluster by
changing `master`/`shuffle_partitions`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem(executors: int | None, meminfo: str = "/proc/meminfo") -> str:
    """Default spark.driver.memory: half of the host's MemTotal, capped at
    16g with separate executor JVMs and 64g in local mode (where the
    driver JVM also runs every task). A heap sized past the host lets
    the JVM grow until the host runs out of memory instead of
    collecting. Falls back to the cap when `meminfo` is unreadable."""
    cap_mb = (16 if executors else 64) * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024  # kB
                    # floor: Spark refuses a driver heap under ~450 MB
                    return f"{max(1024, min(cap_mb, total_mb // 2))}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "solr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_mem_mb: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or 32).
    executors (or $SPARK_GRAFT_EXECUTORS): when set, use
    `local-cluster[E, cores/E, mem]` — E separate executor JVMs on this
    host. That is the faithful single-machine proxy for a multi-executor
    cluster: per-executor heaps/GC and a real inter-process shuffle,
    unlike local[N] where all tasks share one JVM.
    shuffle_partitions: defaults to 3x cores — enough task granularity
    that one straggler doesn't idle the rest (same sizing rule as a real
    cluster: 2-3x total executor cores).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if executor_mem_mb is None:
        # larger corpora need bigger executor heaps (the 2M-doc scaling
        # study OOMed 12g executors); env knob keeps bench runs tunable
        executor_mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "12288"))
    if executors is None:
        e = os.environ.get("SPARK_GRAFT_EXECUTORS")
        executors = int(e) if e else None
    if shuffle_partitions is None:
        shuffle_partitions = cores * 3
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if executors:
        os.environ.setdefault(
            "SPARK_HOME", os.path.dirname(__import__("pyspark").__file__)
        )
        per = max(1, cores // executors)
        master = f"local-cluster[{executors},{per},{executor_mem_mb}]"
    else:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # executor python workers must import solr_spark (the
        # spark-submit --py-files analogue for local-cluster executors)
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(executors),
        )
        .config("spark.executor.memory", f"{executor_mem_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd shuffle compression: the invert/layout exchanges are
        # bandwidth-bound at high core counts — zstd's ratio cuts
        # bus+spill traffic enough to buy a 1.77x 32-core 1M-doc build
        # speedup vs the lz4 default in the round-2 A/B (clean-run
        # tables: BENCH/BASELINE.md). On a real cluster this also cuts
        # network shuffle bytes.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.shuffle.compress", "true")
        .config("spark.shuffle.spill.compress", "true")
    )
    # Shuffle spill location: prefer tmpfs when present. In local mode all
    # executor threads share ONE disk, so shuffle-heavy stages serialize on
    # IO and mask CPU scaling; a real cluster has per-executor local disks.
    # (Override with SPARK_GRAFT_LOCAL_DIR.)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/solr_spark_tmp"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
