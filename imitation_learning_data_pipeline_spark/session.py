"""SparkSession factory tuned for this engine.

Local test profile targets local[N] single-JVM mode; the settings that
matter at cluster scale (AQE, skew-join handling, shuffle partitions,
broadcast threshold) are the same knobs a 1000-executor deployment would
set. Three settings are sized for the process, not the cluster: the
master, the driver heap (a share of this host's memory) and the driver
JIT policy (:data:`DRIVER_JIT_OPTIONS`), which suits a short-lived driver
— every CLI verb is one — and, in local mode, the tasks it runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of physical memory the driver JVM's heap may take by default.
DRIVER_HEAP_FRACTION = 0.6

# HotSpot's Tier-4 (C2) thresholds at 10x their defaults (5000, 600,
# 15000, 40000). A verb's JVM lives 10-40 s; with the defaults C2 keeps
# both its threads busy for the whole run compiling Catalyst and
# Scala-collection code that runs for seconds and then exits (40-48% of
# a benchmark chain's CPU). At 10x only hot code (per-row loops,
# generated stage code) reaches C2 and planning code stays in C1.
# C1 alone (TieredStopAtLevel=1) loses at steady state: warm task time
# +36% over six sf0.1 bench queries; 30x keeps code profiling in tier 3
# too long (+25% executor task CPU). Driver only: in local mode the
# driver runs the tasks, on a cluster it is the short-lived process.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
)


def default_driver_memory(meminfo: str) -> str:
    """Driver heap for a host, from the text of ``/proc/meminfo``:
    DRIVER_HEAP_FRACTION of MemTotal, in MiB (at least 1 GiB)."""
    for line in meminfo.splitlines():
        key, _, value = line.partition(":")
        if key == "MemTotal":
            total_kib = int(value.split()[0])
            return f"{max(1024, int(total_kib * DRIVER_HEAP_FRACTION) // 1024)}m"
    raise ValueError("no MemTotal line in meminfo")


def _driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM if set, else sized to this host."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    with open("/proc/meminfo") as f:
        return default_driver_memory(f.read())


def get_spark(
    app_name: str = "imitation_learning_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE is enabled so runtime statistics re-plan joins (broadcast demotion/
    promotion, skew-join splitting, partition coalescing) — on a real
    cluster this is what keeps a 100 TB shuffle from being dominated by a
    few skewed reducers.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4 routes lower()/upper() through ICU for full Unicode case
        # mapping; CollationAwareUTF8String's class init loads ICU locale
        # data, measured 10-60 s in this container with every task blocked
        # on the init monitor — it made whichever query FIRST touched
        # lower() look 20-200x slower (thread dump: all 32 workers
        # "waiting on the Class initialization monitor" in
        # CollationSupport$Lower.execBinaryICU). JVM case mapping is still
        # Unicode-correct and matches DuckDB on this corpus.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    extra_conf = dict(extra_conf or {})
    # The caller's own options go last: HotSpot takes the last value of a
    # repeated flag, so they override the policy's.
    java_options = (*DRIVER_JIT_OPTIONS, extra_conf.pop("spark.driver.extraJavaOptions", ""))
    builder = builder.config("spark.driver.extraJavaOptions", " ".join(java_options).strip())
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin per-session settings every contract query depends on.

    Called at the top of every driver-contract query so the plan behaves
    the same no matter how the caller built its session (the driver's
    harness does not use :func:`get_spark`):
    - UTC timezone: timestamp↔string casts agree with the DuckDB oracle.
    - ICU case mappings off: see the get_spark comment — ICU class init
      stalls the first lower()/upper() query by 10-60 s per JVM.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    return spark
