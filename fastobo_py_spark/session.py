"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[32] sandbox but written the way a
1000-executor cluster job would be configured: AQE on (runtime shuffle
coalescing + skew-join splitting), Arrow enabled for the pandas UDF
boundary, and shuffle partitions sized explicitly rather than left at 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fastobo-py-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the sandbox).
    On a real cluster the same code ships via ``spark-submit --py-files``
    and ``master`` is supplied by the submitter.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Explicit shuffle sizing: at 100 TB this would be O(10k); locally
        # match core count so every shuffle stage keeps all cores busy.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing of small shuffle partitions and skew-join
        # splitting — first line of defense for GO/CHEBI hub skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Allow joins to reuse a subset hash partitioning (doc_sha) of the
        # clause cache instead of re-exchanging the edge table by the full
        # join keys — the whole canonical chain then runs in ONE stage.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Arrow for every pandas UDF / mapInPandas boundary (the parse UDF).
        # Small batches: corpus rows are whole documents (10KB-1MB), so 16
        # rows ≈ a few MB per IPC frame; 1024-row batches made 100MB+
        # frames whose alloc/copy serialized the parse stage (measured:
        # local[16] parse 52s → 30s, scaling 2.4x → 4.0x).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        # Broadcast threshold: header/idspace dimension tables are tiny;
        # 64 MB keeps even a large alias map broadcastable.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-code class cache (static conf, default 100 entries).
        # One KG batch needs ~115 distinct whole-stage classes and one
        # pass of the eight headline queries ~138, so at 100 the LRU
        # cycles: every lookup misses and every op re-runs Janino (92-138
        # compiles per warmed op, measured on 4 cores) and hands the JIT
        # fresh bytecode. At 1000 a warmed op compiles 0-2 classes.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Shuffle/spill to tmpfs when available: local-mode shuffles otherwise
    # bottleneck on disk and stop scaling with cores. (On a real cluster
    # this is the NVMe-backed local dir configured by the platform.)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (``CodegenMetrics``, a
    process-wide counter); the delta over an op is its codegen cache
    misses."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
