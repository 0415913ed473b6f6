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

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (SURVEY §4.3)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere a pandas boundary exists (pandas UDFs, toPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # iterative jobs re-reference the same state frames; in-memory columnar
        .config("spark.sql.inMemoryColumnarStorage.compressed", "true")
        # iterative scatter joins: never sort the big cached edge side
        # (SMJ re-sorts E rows every superstep; hash join streams it)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # keep plans for iterative lineage manageable
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode runs executors inside the driver JVM: size the heap
        # for cache + per-task shuffle buffers x cores, or GC dominates
        # and scaling flattens (measured: 8g starves 32 tasks, 48g G1 full-GC
        # pauses dominate; 12g is the sweet spot on this 125G box)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
