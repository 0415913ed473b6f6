"""SparkSession factory with scale-oriented defaults.

The defaults encode the physical-execution decisions SURVEY.md §4
maps from the reference: AQE on (runtime re-plan + skew-join
handling), Arrow for every pandas-UDF boundary, and a shuffle
partition count sized to the local core count (on a real cluster this
is set to ~2-3x total executor cores; AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HotSpot's tier-4 (C2) thresholds at 5x their JDK 17 defaults. A superstep
# runs thousands of Catalyst planner methods a few thousand times each, so
# at the default thresholds C2 keeps compiling new ones every round: on a
# cold copurchase pagerank its threads took about half of the call's CPU
# (BASELINE.md, "Driver JIT thresholds"). C1 still compiles every warm
# method, and loops that stay hot at scale still reach C2. The JVM reads
# these only at launch, so they act only when get_spark starts it
# (spark-submit users pass them with --driver-java-options).
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)


def session_conf(
    shuffle_partitions: int, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The Spark conf get_spark builds with: its defaults, then ``extra_conf``,
    whose keys win."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(shuffle_partitions),
        # AQE: runtime coalescing + skew-join splitting (SURVEY §4.3)
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow everywhere a pandas boundary exists (pandas UDFs, toPandas)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # iterative jobs re-reference the same state frames; in-memory columnar
        "spark.sql.inMemoryColumnarStorage.compressed": "true",
        # iterative scatter joins: never sort the big cached edge side
        # (SMJ re-sorts E rows every superstep; hash join streams it)
        "spark.sql.join.preferSortMergeJoin": "false",
        # keep plans for iterative lineage manageable
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # local mode runs executors inside the driver JVM: size the heap
        # for cache + per-task shuffle buffers x cores, or GC dominates
        # and scaling flattens (measured: 8g starves 32 tasks, 48g G1 full-GC
        # pauses dominate; 12g is the sweet spot on this 125G box)
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "12g"),
        # Spark places these before spark.driver.extraJavaOptions, so a
        # caller's extraJavaOptions add to them; a caller's
        # defaultJavaOptions replace them
        "spark.driver.defaultJavaOptions": DRIVER_JIT_OPTIONS,
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        **(extra_conf or {}),
    }


def get_spark(
    app_name: str = "linkgraph",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for link-graph workloads.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``) so the same entrypoint serves tests, bench.py and the
    two-parallelism scaling runs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # match parallelism: local[N] -> N shuffle partitions (AQE may coalesce)
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = (os.cpu_count() or 8) if inner in ("*", "") else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_args(spark: SparkSession) -> list[str]:
    """The driver JVM's input arguments (its -X/-XX flags and -D
    properties), for a benchmark record of the compiler policy it ran
    under."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(mx.getInputArguments())
