"""SparkSession factory.

Settings chosen for DuckDB-oracle parity and scale-readiness:

- ``spark.sql.session.timeZone=UTC``: fixture timestamps are written in
  UTC; DuckDB hashes match only if Spark renders them in UTC too
  (SURVEY.md §1.2).
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion/promotion — the 100 TB story is "let AQE re-plan
  with real stats" rather than hand-tuned partition counts.
- ``spark.sql.shuffle.partitions``: defaults to the local core count via
  SPARK_GRAFT_CPUS; on a real cluster this would be ~2-3× total cores
  (AQE coalesces down, so err high there / exact here).
- Arrow enabled: every pandas interchange (Pandas UDFs, toPandas in the
  bench harness) rides the vectorized Arrow path.
- Generated-code cache sized to the working set
  (``CODEGEN_CACHE_ENTRIES``): Spark keeps compiled Janino classes in a
  JVM-wide LRU of 100 entries by default, and one pass of
  ``pretraining_pipeline`` needs 113-119 classes, the 12 relational
  bench keys 225. A cyclic access pattern larger than an LRU gets almost
  no hits, so every warm pass recompiled 80-101 unchanged classes (and
  the JIT compiled each fresh class again). A fixed constant, not an
  option: the right size follows the catalog, not the deployment, and
  ``scripts/check_all.py`` prints the session's compile count so a
  working set that outgrows it shows. Class names leave out the
  whole-stage codegen stage id (``useIdInClassName=false``): AQE numbers
  stages in the order they are planned, which varies with which query
  stage finishes first, and an id in the name made the same pipeline a
  different cache key in each order.
- The driver JVM starts from a class-data archive (``cds``): the first
  session on a machine records the classes the JVM loaded into
  ``$XDG_CACHE_HOME/spark-graft/<key>.jsa`` (``~/.cache`` when unset)
  as it exits, and every later session maps them, parsed and verified,
  instead of loading them again (``setup_s`` 9.9 -> 6.0 s on
  ``backup_drill``, docs/BENCH_NOTES.md). The key covers the JDK, the
  PySpark version and Spark's jars. CDS is off, and the JVM starts as
  it would without it, when anything but Spark's jars and an empty conf
  dir would be on the class path (``SPARK_CONF_DIR`` set, files other
  than templates in ``$SPARK_HOME/conf``, an extra class path), when the
  cache cannot be written or another process is recording. The archive
  is published (renamed into place) only after the recording JVM has
  exited with status 0: a JVM that maps a torn archive dies of SIGBUS.
  The CDS flags go before the caller's ``spark.driver.extraJavaOptions``,
  which are kept.
- C2 compiles only code that proves hot (``JIT_OPTIONS``): the four
  tier-4 thresholds are ten times HotSpot's defaults. The engine runs
  as a fresh process per nightly job, and from a cold JVM C2 took about
  two thirds of a ``corpus_build`` run's CPU, mostly on methods a pass
  calls a few thousand times (planning, task serialization, Janino, the
  closure cleaner); those now stay at C1, and code hot enough to matter
  at scale still reaches C2 (docs/BENCH_NOTES.md, "The cold JVM's JIT
  budget"). A fixed constant, not an option, like the codegen cache:
  the thresholds follow the engine's code, not the deployment.
  ``scripts/check_all.py`` prints the threshold in force. The flags go
  after the CDS flags and before the caller's
  ``spark.driver.extraJavaOptions``; HotSpot keeps the last occurrence
  of a flag, so a caller's ``-XX:Tier4InvocationThreshold=5000`` wins.
  They apply only to a driver JVM this process launches: a session
  that attaches to a running JVM, or executor JVMs on a cluster, keep
  the flags they started with.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import cds


# compiled-class cache entries; the largest measured working set is 225
CODEGEN_CACHE_ENTRIES = 1000
# HotSpot's tier-4 (C2) thresholds, ten times the defaults of 5000, 600,
# 15000 and 40000
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "datapipeline_scripts_spark", **extra_conf: str) -> SparkSession:
    """Build (or fetch) the SparkSession used by every job and test."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
        # type for; read it as a ns-since-epoch long, converted to a µs
        # TimestampType in catalog.load_table (matches DuckDB's ns→µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixture timestamps are parquet NTZ holding UTC wall-clock values;
        # surface them as plain TIMESTAMP (event-time ops need it, and the
        # UTC session zone keeps DuckDB-oracle hashes identical)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # scan-split granularity: map-stage parallelism is bounded by
        # input splits, and a compact table whose rows EXPAND downstream
        # (band-join probes, shingle explodes) can starve the box — the
        # 100x proxy's 50MB/8-file part table put a 5e9-row band-join
        # expansion through 8 map tasks. Lower this for such runs
        # (e.g. SPARK_GRAFT_MAX_PARTITION_BYTES=4194304); on a real
        # cluster the default 128MB is right because inputs are big.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
    )
    # a running JVM keeps the flags it started with: getOrCreate only
    # attaches to it
    plan = cds.plan(extra_conf) if SparkContext._gateway is None else None
    if plan is not None:
        caller = extra_conf.get("spark.driver.extraJavaOptions", "")
        extra_conf["spark.driver.extraJavaOptions"] = " ".join(
            o for o in (plan.java_options, JIT_OPTIONS, caller) if o
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate() if plan is None else cds.launch(builder, plan)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent in Janino) since the JVM started.

    JVM-wide counters: every session of the driver JVM shares them, as it
    shares the compiled-class cache."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return int(metrics.METRIC_COMPILATION_TIME().getCount()), generator.compileTime() / 1e9


def vm_option(spark: SparkSession, name: str) -> str:
    """The value of HotSpot flag ``name`` in the driver JVM."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def jit_compile_s(spark: SparkSession) -> float:
    """Seconds the driver JVM's JIT compilers have spent since it started."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1e3
