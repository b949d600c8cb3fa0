"""Shared engine-internal helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def tiny_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side metadata/result rows as a SINGLE-slice DataFrame.

    ``createDataFrame(list)`` parallelizes into default-parallelism
    pickled slices; any later single-task action (coalesce(1) write,
    collect) then pays one Python-worker round-trip PER SLICE
    (measured 4.3s for a 6-row audit write on local[32] — vs 0.3s
    single-slice). Use for any small driver-materialized row set.
    """
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guarantee at least ``min_partitions`` (default: the session's
    defaultParallelism) input partitions before a CPU-heavy per-row
    stage.

    A parquet row group is Spark's atomic split unit, so a table
    written as one row group scans as ONE task no matter how many
    cores are idle — and any expensive projection chained onto the
    scan (shingling, hashing, vector math) serializes onto that task
    (measured: 9.9s single-task vs ~1s spread for shingling the sf0.1
    corpus on local[32]). The round-robin repartition is one narrow
    shuffle of the raw rows — at 100 TB the input arrives as many
    files and this is a no-op; it only pays (and pays off) on
    degenerate layouts."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def write_counted(df: DataFrame, path: str,
                  partition_by: list[str] | None = None) -> int:
    """Write ``df`` to parquet and return the row count observed ON
    the write action itself, instead of a second job re-reading the
    files just written. count() observes every row the write sinks and
    never returns NULL on empty input, so no normalization is needed."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return int(obs.get["n"])
