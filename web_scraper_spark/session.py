"""SparkSession factory tuned for this engine.

Local sandbox runs on a single JVM (local[N]); the same config block is what
we'd pass to spark-submit on a real multi-executor cluster (see
scripts/run_crawl.py). AQE + adaptive skew join stay on everywhere; shuffle
partitions default to core count locally and should be ~2-3x total cores on
a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_memory(env: str, cap_gb: int, ram_share: float) -> str:
    """Memory setting for one JVM pool: the ``env`` override when set,
    else ``ram_share`` of physical RAM capped at ``cap_gb``. The caps
    (48g heap, 16g off-heap) are sized for a large box; a fixed 48g heap
    on a 16 GB machine lets the heap grow until the kernel OOM-kills the
    JVM instead of collecting."""
    if os.environ.get(env):
        return os.environ[env]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(512, min(cap_gb * 1024, int(ram_mb * ram_share)))}m"


def get_spark(
    app_name: str = "web_scraper_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # runtime bloom-filter join pruning: a second bloom layer under the
        # explicit sharded seen-set sketches (SURVEY.md §4.2)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # heap + off-heap stay within half of RAM: the rest is for the
        # Python UDF workers, the JVM's own overhead and the OS
        .config("spark.driver.memory", default_memory("SPARK_DRIVER_MEM", 48, 3 / 8))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # off-heap Tungsten buffers: shuffle/sort/agg pages leave the Java
        # heap, cutting GC pressure when many task threads share one JVM
        # (measured: dedup_admission 7.4s → 5.9s at local[32] together with
        # the local no-compress below). Equally valid on a cluster.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", default_memory("SPARK_OFFHEAP", 16, 1 / 8))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        # local mode (this factory always builds local[N]): shuffle bytes
        # never cross a network — lz4 work is pure CPU overhead next to
        # NVMe/tmpfs. A cluster spark-submit recipe must keep compression
        # ON (shuffle becomes network-bound there).
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
    )
    # Bench-only: shuffle scratch on tmpfs. local[N] writes every
    # shuffle/spill file to spark.local.dir (default /tmp — here a
    # host-contended virtio disk whose load varies run-to-run and polluted
    # cross-session scaling numbers); /dev/shm is guest DRAM. But tmpfs is
    # RAM-backed and typically capped at 50% of RAM, so a large spill —
    # the exact event spark.local.dir exists to absorb — would consume
    # memory instead of relieving it and can ENOSPC the job. So this is
    # OPT-IN via WSS_SHM_LOCAL_DIR=1 (bench.py / scaling_bench set it);
    # library consumers keep Spark's default local dir. On a real cluster
    # each executor gets node-local NVMe via spark.local.dir /
    # yarn.nodemanager.local-dirs, with compression kept ON.
    if os.environ.get("WSS_SHM_LOCAL_DIR") == "1" and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/wss-spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
