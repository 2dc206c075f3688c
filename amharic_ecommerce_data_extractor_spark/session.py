"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (single-JVM local[N]) but every knob is the one that
matters on a real multi-executor cluster too: AQE for runtime re-planning and
skew-join splitting, Arrow for the pandas-UDF boundary, partition counts
sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# rows per Arrow batch handed to a Python UDF (arrow.maxRecordsPerBatch)
ARROW_BATCH_ROWS = 10_000


def get_spark(
    app_name: str = "amharic_ecommerce_kg",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # smaller scan splits: the 128MB default collapses mid-size tables
        # into fewer partitions than cores, serializing scan-side stages
        # (AQE coalescing re-merges when they are genuinely tiny)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # AQE coalesces shuffle outputs by BYTES (floor = minPartitionSize,
        # default 1MB), which is the wrong cost model for this engine's
        # CPU-dense text stages: a window/groupBy output of 10k documents is
        # <1MB compressed, so the default collapses it to ONE partition and
        # the downstream per-k-gram/minhash projection runs on one core
        # (measured: the curation audit's minhash stage 9.9s -> 1.3s with a
        # 16KB floor, 32 partitions). At scale the parallelismFirst target
        # (total bytes / default parallelism) dominates this floor, so large
        # shuffles coalesce exactly as before; the only cost is a few extra
        # ~ms tasks on genuinely tiny stages.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
    )
    # shuffle/spill to tmpfs when available: local-mode shuffles are
    # disk-bound on container filesystems
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
