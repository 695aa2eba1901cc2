"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[32] sandbox but written the way a
1000-executor cluster job would be configured: AQE on (runtime shuffle
coalescing + skew-join splitting), Arrow enabled for the pandas UDF
boundary, and shuffle partitions sized explicitly rather than left at 200.

Local ``file://`` writes go through ``sparkobo.NioLocalFileSystem``
(``jvm/NioLocalFileSystem.java``) when this module launches the JVM:
without libhadoop, Hadoop's own local filesystem forks a ``chmod`` process
for every file, ``.crc`` file and directory it creates (~470 per KG batch).
The class is compiled once per machine with ``javac`` into a per-user
cache keyed by the source hash; without ``javac`` the session keeps
Hadoop's default.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import string
import subprocess
import tempfile
import uuid
import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

NIO_LOCAL_FS = "sparkobo.NioLocalFileSystem"
_NIO_LOCAL_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")


def _nio_local_fs_classes() -> str | None:
    """Class directory of :data:`NIO_LOCAL_FS`, compiled on first use into
    ``$XDG_CACHE_HOME/fastobo_py_spark/jvm/<hash>`` (hash of the source and
    of the Hadoop jar it compiles against); None when the source, the jar
    or ``javac`` is missing or the compile fails."""
    from pyspark.find_spark_home import _find_spark_home

    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    java_home = os.environ.get("JAVA_HOME")
    javac = os.path.join(java_home, "bin", "javac") if java_home else shutil.which("javac")
    if not (jars and javac and os.path.isfile(javac) and os.path.isfile(_NIO_LOCAL_FS_SOURCE)):
        return None
    with open(_NIO_LOCAL_FS_SOURCE, "rb") as fh:
        key = hashlib.sha256(fh.read() + os.path.basename(jars[-1]).encode()).hexdigest()[:16]
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "fastobo_py_spark", "jvm"
    )
    dest = os.path.join(cache, key)
    if os.path.isdir(dest):
        return dest
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=cache)
    except OSError:
        return None
    try:
        cmd = [javac, "--release", "17", "-nowarn", "-cp", jars[-1], "-d", tmp, _NIO_LOCAL_FS_SOURCE]
        if subprocess.run(cmd, capture_output=True, timeout=300).returncode == 0:
            os.rename(tmp, dest)  # atomic publish
    except (OSError, subprocess.SubprocessError):
        pass  # javac did not run, or a concurrent build published first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest if os.path.isdir(dest) else None


def _with_local_fs(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the settings that route ``file://`` through
    :data:`NIO_LOCAL_FS` (an explicit ``spark.hadoop.fs.file.impl`` wins).

    Only when this call launches the JVM: the class directory must be on
    the JVM's classpath from its start. A driver started by
    ``spark-submit`` (``PYSPARK_GATEWAY_PORT`` set) already runs, and
    naming the class there fails every write with
    ``ClassNotFoundException``."""
    conf = dict(conf)
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return conf
    classes = _nio_local_fs_classes()
    if classes is not None:
        cp = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = classes if not cp else cp + os.pathsep + classes
        conf.setdefault("spark.hadoop.fs.file.impl", NIO_LOCAL_FS)
    return conf


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
    for k, v in _with_local_fs(extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class _JvmProbes:
    """The JVM objects the batch counters read, resolved once per
    SparkContext: every py4j package walk, static lookup and proxy
    creation is one round trip, and a batch reads the counters twice."""

    def __init__(self, sc: SparkContext):
        jvm = sc._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.jit = mf.getCompilationMXBean()
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        # Hadoop caches the local FileSystem per JVM, so its class is fixed
        # once the first file:// path is touched
        fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(sc._jsc.hadoopConfiguration())
        self.local_fs = fs.getClass().getName()


_PROBES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _probes(spark: SparkSession) -> _JvmProbes:
    sc = spark.sparkContext
    probes = _PROBES.get(sc)
    if probes is None:
        probes = _PROBES[sc] = _JvmProbes(sc)
    return probes


def local_fs_class(spark: SparkSession) -> str:
    """Class of the ``file://`` filesystem this session's writes use:
    :data:`NIO_LOCAL_FS`, or the Hadoop class the session fell back to
    (which forks a ``chmod`` per created file without libhadoop)."""
    return _probes(spark).local_fs


def jvm_times(spark: SparkSession) -> tuple[float, float]:
    """(JIT compile seconds, GC seconds) spent so far by this JVM, from its
    ``CompilationMXBean`` and ``GarbageCollectorMXBean`` s: one py4j call
    per bean."""
    p = _probes(spark)
    jit_ms = p.jit.getTotalCompilationTime()
    gc_ms = sum(max(0, b.getCollectionTime()) for b in p.gcs)
    return jit_ms / 1000.0, gc_ms / 1000.0


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (``CodegenMetrics``, a
    process-wide counter); the delta over an op is its codegen cache
    misses."""
    return int(_probes(spark).codegen.getCount())


def sql_over(spark: SparkSession, text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text)`` with each ``{name}`` in ``text`` bound to the
    DataFrame ``frames[name]``: one parse and one analysis for the whole
    statement.

    Each frame is bound through a temp view that lives only for the
    analysis. PySpark's own ``spark.sql(text, name=df)`` does the same but
    drops its views through ``Catalog.dropTempView``, which also uncaches a
    persisted DataFrame argument (Spark 4.1: the KG chain silently lost
    its clause cache and re-ran the parse kernel). This drops them from
    the session catalog directly, leaving every cache in place. The text
    must hold no other braces."""
    used = {field for _, field, _, _ in string.Formatter().parse(text) if field}
    names = {k: f"_sparkobo_{k}_{uuid.uuid4().hex}" for k in used}
    for k, name in names.items():
        frames[k].createOrReplaceTempView(name)
    try:
        return spark.sql(text.format(**names))
    finally:
        if names:
            catalog = spark._jsparkSession.sessionState().catalog()
            for name in names.values():
                catalog.dropTempView(name)


def release(frames) -> None:
    """Free what each DataFrame in ``frames`` holds: the cache of a
    persisted one, and the blocks of a ``localCheckpoint`` ed one. The
    CacheManager does not know local checkpoints, so ``unpersist()``
    leaves their blocks until the JVM happens to garbage-collect the RDD.
    Release only frames nothing will read again: a released checkpoint
    has no lineage to recompute from. Safe on a stopped session."""
    for df in frames:
        try:
            plan = df._jdf.logicalPlan()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
            else:
                df.unpersist()
        except Exception:
            pass  # owning session already torn down
