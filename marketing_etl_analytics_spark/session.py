"""SparkSession factory.

The reference delegates all execution to PostgreSQL (SURVEY.md §3); our
equivalent of its "server config" is a SparkSession tuned for the
analytics workload:

- UTC session timezone: the epoch-seconds surrogate key ``date_id``
  (reference ``etl_script/03_transform.sql:7``) must be deterministic.
- AQE on: runtime coalescing + skew-join handling stands in for the
  reference's B-tree indexes (``schema.sql:68-70``) at scale.
- Arrow enabled: any Pandas-UDF extension path gets vectorized transfer.
- Codegen cache above the warehouse's class working set: each plan shape
  is compiled once per process, so a repeat read, the first read of a
  new snapshot and a repeat delta compile no generated class.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def env_positive_int(name: str, default: int | None = None) -> int | None:
    """Parse env var ``name`` as a positive int; unset, empty, non-numeric,
    or < 1 values all fall back to ``default`` (ADVICE r7: a set-but-falsy
    '0' previously fell through a truthiness guard into an invalid
    spark.sql.shuffle.partitions=0, and '' crashed int() at import)."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        val = int(raw.strip())
    except ValueError:
        return default
    return val if val >= 1 else default


def default_cpus() -> int:
    """Local worker threads: $SPARK_GRAFT_CPUS, else the CPUs this
    process may run on."""
    return env_positive_int("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))


# Shuffle width defaults to the thread count but can be raised
# independently (SPARK_GRAFT_SHUFFLE_PARTITIONS) for large-SF runs:
# at 100x+ a 600 M-row shuffle wants more, smaller partitions than
# local threads — AQE then coalesces whatever is oversplit.
DEFAULT_SHUFFLE_PARTITIONS = env_positive_int(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS", default_cpus()
)


def default_driver_memory() -> str:
    """``spark.driver.memory`` when $SPARK_DRIVER_MEM is unset: half the
    host's physical memory, at most 8g — a fixed 8g heap would ask a
    small host for memory it does not have."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return "8g" if half_mb >= 8192 else f"{half_mb}m"


def _jdk_major() -> int:
    """Major version of the JDK Spark will launch on (JAVA_HOME release
    file; falls back to 17 — the documented floor for Spark 4)."""
    java_home = os.environ.get("JAVA_HOME", "")
    try:
        with open(os.path.join(java_home, "release")) as fh:
            for line in fh:
                if line.startswith("JAVA_VERSION="):
                    ver = line.split("=", 1)[1].strip().strip('"')
                    head = ver.split(".")[0]
                    return int(head) if head != "1" else int(ver.split(".")[1])
    except (OSError, ValueError, IndexError):
        pass
    return 17


def get_spark(
    app_name: str = "marketing-etl-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults target local[``default_cpus()``]; on a real cluster the
    master comes from spark-submit and these configs still apply. Any
    other Spark conf goes through ``extra_conf``.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{default_cpus()}]")
        # Determinism: epoch date keys and date extraction are TZ-sensitive.
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # partitions at runtime — essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES (64 MB default);
        # operators whose shuffle data is small but per-row work is
        # heavy (candidate-pair joins over hashes, array intersects)
        # coalesce to 1 task and serialize. 2 MB keeps those parallel
        # locally; at cluster scale shuffle bytes dominate and this
        # mostly matches the default behavior anyway.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # Runtime bloom-filter pruning: selective joins inject a bloom
        # filter of the build side's keys into the probe side's scan —
        # at 100 TB this skips row groups before the shuffle. No-op on
        # broadcast joins (already pruned); matters for fact-fact SMJs.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Dims here are tiny (19..2450 rows); let Spark broadcast eagerly.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Arrow for any pandas_udf / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Generated classes kept per process. Spark's default of 100 is
        # below the warehouse's working set: its LRU would evict each
        # read's classes before the read comes round again, and every
        # repeat would recompile them. Distinct classes, counted with
        # CodegenMetrics on perfbench seed 1 (untraced / traced):
        # dashboard with its build 287 / 375, nightly_etl 192 / 233.
        # The same query shape makes the same code whatever snapshot it
        # reads. Must stay positive: 0 turns the cache off.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Quieter local runs.
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # Heartbeat window: at 100x+ local SFs a full-heap GC pause can
        # exceed the default 120 s spark.network.timeout, and in local
        # mode the HeartbeatReceiver then "removes" the driver-executor
        # — shuffle state is wiped and every in-flight stage dies with
        # missing temp_shuffle files (observed at sf100b). 480 s rides
        # out worst-case pauses; on a real cluster the same setting is
        # standard practice for straggler-tolerant long jobs.
        .config("spark.network.timeout", "480s")
        # Shuffle/spill compression codec (Spark default lz4). zstd
        # roughly halves spill volume for the shingle-pair-heavy dedup
        # entries at 100x-class SFs, where local disk — not CPU — is
        # the binding constraint on this container.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
    )
    # JDK-8192647 mitigation: 32 executor threads doing Arrow/netty
    # JNI critical sections can starve an allocating thread behind
    # the GCLocker ("Retried waiting for GCLocker too often"), which
    # surfaces as a spurious task OOM and a lost shuffle file under
    # 100x-scale local runs. Raising the retry count (diagnostic
    # flag) removes the spurious failure. Set via defaultJavaOptions
    # (which Spark PREPENDS to any user/spark-defaults
    # extraJavaOptions rather than replacing them) and only on JDKs
    # that still have a GCLocker (removed in JDK 22+, where the
    # unrecognized -XX option would abort startup).
    if _jdk_major() < 22:
        builder = builder.config(
            "spark.driver.defaultJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=128",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
