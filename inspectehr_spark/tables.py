"""Shared lazy table loader for the query registry."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def string_table(
    spark: SparkSession, rows: list[tuple], names: tuple[str, ...]
) -> DataFrame:
    """A driver-built literal table of string columns as a LocalRelation.

    `spark.createDataFrame(<python list>)` plans a LogicalRDD: every
    consumer (a broadcast, a cross join) starts a Python-worker job just
    to read back rows the driver already holds. Built from an Arrow table
    the rows are inlined in the plan and read without a job. An empty
    `rows` gives an empty table with the same columns."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(names)
    return spark.createDataFrame(
        pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)})
    )


def parallel_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition of an UNDER-PARALLEL input (guide §2.5,
    "input skew ... repartition immediately after the read").

    A small table arrives as a single file split, so every CPU-heavy
    per-row projection downstream (hash sketches, n-gram construction,
    model arithmetic) serializes on ONE core while the rest of the
    cluster idles. When the plan's partition count is below the session's
    default parallelism, one keyless exchange of the (by definition
    small) input buys full-width execution of everything after it.

    Scale-adaptive by construction: at production scale a scan yields
    >= cores splits and this is the identity — no exchange is added. The
    threshold is the session's own parallelism (derived from the master /
    cluster, never a constant), so the same code is a no-op on a real
    cluster and a 32x win on a one-file fixture.

    Call it on the NARROW projection that feeds the expensive work (id +
    payload columns only), not on the full row, so the exchange moves the
    minimum bytes (guide §2.3 "project before the exchange")."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
