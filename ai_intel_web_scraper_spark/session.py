"""SparkSession factory tuned for this engine.

Local mode here; on a real cluster the same builder args apply minus master,
plus `spark-submit --py-files ai_intel_web_scraper_spark.zip`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Cores this process may run on (its CPU affinity set)."""
    return len(os.sched_getaffinity(0))


def default_driver_heap() -> str:
    """An eighth of RAM, clamped to [1g, 4g]: the JVM, its Python workers
    and whatever else shares the machine all fit beside it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(ram // 8 >> 20, 1024), 4096)}m"


def get_spark(app: str = "ai_intel_web_scraper_spark",
              cores: int | str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    # explicit arguments, then SPARK_GRAFT_* env vars, then the machine
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS") or default_cores()
    shuffle = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE", str(min(int(cores) * 2, 64)) if str(cores).isdigit() else "32"))
    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # let AQE rewrite sort-merge joins to shuffled-hash at runtime
         # when every post-shuffle partition fits the local-map threshold
         # (guide §3.1): skips both sort passes; off by default upstream
         # (0). Parameterized for clusters with tighter executor memory;
         # bucketed zero-Exchange joins have no shuffle stage, so their
         # co-located SortMergeJoin plans are untouched. AQE skew-join
         # splitting applies to shuffled-hash joins too.
         .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                 os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "256m"))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # big Arrow batches: the vectorized UDFs (canonicalize/hash, bloom
         # probe, chunkers) amortize per-batch pandas/Arrow overhead; 64k
         # rows of scheduling-path columns is ~4 MB — well inside worker
         # memory, ~6x fewer batch boundaries than the 10k default
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                 or default_driver_heap())
         .config("spark.ui.enabled", "false")
         # shuffle/spill files on tmpfs: local-mode stand-in for a real
         # cluster's per-executor local disks (a shared /tmp spindle would
         # serialize shuffle I/O across all threads and mask task scaling)
         .config("spark.local.dir",
                 os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                                "/dev/shm/spark_graft_tmp"
                                if os.path.isdir("/dev/shm") else "/tmp"))
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
         # ORDER BY ... LIMIT k plans an in-memory top-k whose buffers are
         # sized by k, not by the data (Spark's default threshold is
         # 2^31): k = 10^9 asks for several GB of heap over a handful of
         # rows. Above a million rows, sort (spilling) and take instead.
         .config("spark.sql.execution.topKSortFallbackThreshold",
                 str(1_000_000)))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
