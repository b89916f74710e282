"""SparkSession factory with scale-oriented defaults.

The reference (OptimizeRasters.py:3848, :6692-6709) hand-rolls a
10-thread pool; here parallelism is Spark's job. The confs below are the
ones that matter at 100 TB: AQE (runtime coalesce + skew-join
splitting), the shuffle partition count the caller passes
(``DEFAULT_SHUFFLE_PARTITIONS`` when it passes none), Arrow for every
pandas-UDF boundary, and zstd as the Parquet codec of every table the
package writes. Spark's default, snappy, has no entropy stage, so
bit-packed dictionary ids, hex digests and URLs are stored near raw: in
a perfbench tile_join output file (seed 7) the ``polygon_id``,
``tile_x`` and ``tile_y`` chunks take 55,553 / 56,365, 72,240 / 72,217
and 63,586 / 63,564 bytes (compressed / uncompressed) under snappy.
Parquet records the codec per column chunk, so a table that mixes files
of both codecs reads as one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# Generated classes kept by the JVM-wide codegen cache. Spark's default
# of 100 is about one corpus_pipeline plan (97-116 classes), so a
# repeated build evicted and recompiled most of its own classes.
CODEGEN_CACHE_ENTRIES = "1000"
# Parquet codec of every table the package writes (module docstring).
PARQUET_CODEC = "zstd"


def _default_driver_mem() -> str:
    """Local mode runs every executor thread inside the driver JVM, so
    the driver heap IS the cluster memory: at 16g, 32 concurrent tasks
    get < 300 MB of execution memory each and a 200M-row hash
    aggregation spills continuously (guide §5). Size the heap to the
    machine (~40 % of RAM, capped) instead of a fixed small constant;
    $SPARK_DRIVER_MEMORY still overrides, and cluster deployments set
    executor memory through spark-submit as usual."""
    try:
        kb = int(open("/proc/meminfo").readline().split()[1])
        gb = max(8, min(int(kb / 1024 / 1024 * 0.4), 64))
        return f"{gb}g"
    except Exception:
        return "16g"


def get_spark(app_name: str = "optimizerasters-spark",
              master: str | None = None,
              shuffle_partitions: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the tiling engine.

    ``master`` (e.g. ``local[4]``) is set when given; ``None`` leaves the
    master to ``spark-submit``, which is how a cluster run invokes this
    (``spark-submit --py-files``).
    """
    # Shuffle spill on tmpfs: the local-mode stand-in for executor-local
    # NVMe. With 32 writer threads, /tmp-on-rootdisk serializes the
    # shuffle; RAM-backed dirs restore near-linear scaling.
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-tmp"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions",
                shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        # AQE partition coalescing merges tiny reduce partitions — right at
        # 100 TB, but on fixed-size local benches it over-coalesces reduce
        # stages below the core count and serializes them (measured: 0.59
        # -> 0.88 scaling efficiency when disabled). Bench runs set
        # SPARK_GRAFT_AQE_COALESCE=false; production leaves it on.
        .config("spark.sql.adaptive.coalescePartitions.enabled",
                os.environ.get("SPARK_GRAFT_AQE_COALESCE", "true"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY",
                               _default_driver_mem()))
        .config("spark.executor.memory",
                os.environ.get("SPARK_EXECUTOR_MEMORY", "12g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master:
        builder = builder.master(master)
    return builder.getOrCreate()
