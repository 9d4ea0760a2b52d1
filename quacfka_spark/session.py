"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may run on) with ``$SPARK_GRAFT_DRIVER_MEM`` of driver heap
(default: half the memory available at start), but every config here is
chosen to survive a 1000-executor cluster at 100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast) so the
  same declarative plans re-optimize at any scale.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescePartitions makes the initial number non-critical.
- Arrow enabled for every pandas-UDF boundary (the reference's Arrow-native
  batching, /root/reference/proto.go:146-156, maps to this).
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
- ``file:`` paths go through java.nio for ``chmod`` and link probes
  (jvm/src/quacfka/jvm/LocalFs.scala, in the engine's jar). Without
  libhadoop, Hadoop's local file system starts one ``chmod`` process per
  permission it sets and one ``readlink`` per link it checks: about 60
  forks per streaming epoch (sink commits, offset WAL, commit log), at
  4.3 ms each on a 4-vCPU host. The classes are registered only when
  ``get_spark`` launches the JVM with the jar on its classpath; other
  schemes are untouched.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

JAR_PATH = os.path.abspath(os.path.join(os.path.dirname(__file__), "jars", "quacfka-jvm.jar"))

# Hadoop's local file system classes, replaced by java.nio twins
LOCAL_FS_CONF = {
    "spark.hadoop.fs.file.impl": "quacfka.jvm.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "quacfka.jvm.NioLocalFs",
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of ``MemAvailable``."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemAvailable:"))
    return f"{kb // 2048}m"  # half, in MB


def get_spark(app_name: str = "quacfka-spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        # Hot codegen workloads (wide from_json, large expression trees)
        # overflow the JVM's default 240MB code cache, after which the
        # JIT thrashes: identical decode jobs measured 10s -> 71s -> 1s
        # across runs. A 1g reserve gives stable steady-state compiles.
        # GCLockerRetryAllocationCount: Arrow/JNI critical sections can
        # starve G1's GCLocker and surface a SPURIOUS OutOfMemoryError
        # ("Retried waiting for GCLocker too often") on tiny
        # allocations with tens of GB free — observed killing a 141-key
        # sweep on a 306-WORD allocation. Raising the retry count is
        # the documented JDK workaround (JDK-8192647 family).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UnlockDiagnosticVMOptions"
            " -XX:GCLockerRetryAllocationCount=100",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Pin BLAS to ONE thread inside Python workers (executorEnv
        # reaches local-mode workers too; verified — the driver's own
        # numpy stays multithreaded): with 32 concurrent group-map
        # tasks each spawning an ~32-thread OpenBLAS pool, the cosine
        # kernels ran ~1000 threads and thrashed — sim10 at the 100k
        # probe measured 36.7s -> 21.8s with workers pinned. On a real
        # cluster this is spark.task.cpus-aware sizing; at 1 core per
        # task, 1 BLAS thread is the correct setting.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # the executor entry is for local-cluster masters
        .config("spark.driver.extraClassPath", JAR_PATH)
        .config("spark.executor.extraClassPath", JAR_PATH)
    )
    # a JVM that is already up may lack the jar: name its classes only
    # to the JVM this call launches
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        for k, v in LOCAL_FS_CONF.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    The driver hands us its own SparkSession for ``entry``/``queries``;
    these confs are the ones that affect correctness parity with the
    DuckDB oracle (timezone) and plan quality, and are safe to set at
    runtime.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # The driver's plain session keeps the 200-partition default; size
    # to the actual core count (AQE coalesces further at runtime, so
    # this only trims scheduling overhead, never capacity).
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    # fixtures write ts as TIMESTAMP(NANOS); read as long + convert (catalog)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return spark
