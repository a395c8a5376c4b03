"""SparkSession factory with the engine's standard configuration.

Arrow on (the extraction kernel is an Arrow-batched pandas UDF), AQE on
(runtime re-planning, skew-join splitting), modest Arrow batch size
(HTML payloads are tens of KB per row — bound executor memory, see
SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's physical memory, capped at 24g: the heap must
    leave room for Python workers, off-heap buffers and the OS, or the
    kernel OOM-kills the JVM. 24g when MemTotal is unreadable."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(24 << 10, total_mb // 2)}m"
    except OSError:
        pass
    return "24g"


def get_spark(
    app_name: str = "go-htmldate-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    # Scan split size. The sf inputs are one parquet file per table with
    # row groups of ~13-25 MB; the 128 MB default packs them into 1-2
    # scan tasks, serializing every downstream projection (guide §6.1).
    # 16 MB locally splits each row group into its own task; production
    # (100 TB, many large files) should RAISE this toward 512m-1g via
    # the env var — more bytes per task, fewer map tasks feeding each
    # shuffle (guide §2.2) — which is why it is parameterised rather
    # than hard-coded.
    max_part = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")
    # Floor on scan parallelism (guide §6.1): without it the split
    # packer bundles small files — e.g. the WARC/WET gzip shards, one
    # parse task per FILE — into a couple of tasks (each file charged
    # openCostInBytes=4m against the 16m split). A floor of one split
    # per core spreads multi-file reads without touching row-group
    # bound parquet scans.
    min_parts = os.environ.get("SPARK_GRAFT_MIN_PARTITION_NUM", cpus)
    # Shuffle/scratch directory: Spark's default (java.io.tmpdir) unless
    # SPARK_GRAFT_LOCAL_DIR names one. Pointing it at tmpfs (e.g.
    # /dev/shm/spark_graft_tmp) helps on hosts whose disk is the noisy
    # resource, but tmpfs pages are RAM outside the JVM heap and every
    # other memory budget: shuffle files and spills there grow until
    # the host runs out of memory. Nodes with real local SSDs should
    # point it at them (guide §2.1: local disk bandwidth for shuffle
    # files can be the tighter limit).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_part)
        .config("spark.sql.files.minPartitionNum", str(min_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r06): AQE sizes post-shuffle partitions by BYTES, so a
        # byte-small aggregate feeding CPU-heavy per-row work coalesces
        # onto 1-2 cores; a global minPartitionSize=256k was A/B'd and
        # REVERTED (neutral-to-worse — it adds tasks to every small
        # stage), in favor of explicit round-robin spreads at the three
        # measured hot spots (bucket pair fan-outs in dedup/similarity).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs every task thread in the driver JVM: size the
        # heap for the thread count or 32 string-heavy tasks GC-thrash
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
