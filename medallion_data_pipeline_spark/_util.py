"""Shared engine-internal helpers."""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

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


def read_table(spark: SparkSession, warehouse: str, layer: str,
               name: str) -> DataFrame:
    """One warehouse table, ``<warehouse>/<layer>/<name>``: the single
    read path for every medallion layer (bronze, silver, gold, audit)."""
    return spark.read.parquet(os.path.join(warehouse, layer, name))


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


@dataclass
class StageResult:
    """One pipeline stage's audited counts. ``rows_in`` is -1 where the
    stage does not count its input (a landing or mart write)."""
    stage: str
    rows_in: int
    rows_out: int
    wall_s: float


@dataclass
class StageRecorder:
    """The one stage-bookkeeping path of every pipeline (bronze,
    silver, gold, quality, crawl, corpus). ``record`` appends a
    StageResult timed from the caller's ``t0`` and then fires
    ``stage_hook(name)``; ``write`` first lands the stage's frame under
    ``out_dir`` with its count riding the write action; ``fan_out``
    runs independent stages concurrently. Results keep call order, so a
    half that runs overlapped on another thread records into its own
    recorder, and the caller appends that recorder's results after
    joining it."""
    out_dir: str
    stage_hook: Callable[[str], None] | None = None
    results: list[StageResult] = field(default_factory=list)

    def _append(self, result: StageResult) -> int:
        self.results.append(result)
        if self.stage_hook is not None:
            self.stage_hook(result.stage)
        return result.rows_out

    def record(self, name: str, n_in: int, n_out: int, t0: float) -> int:
        return self._append(
            StageResult(name, n_in, n_out, round(time.time() - t0, 2)))

    def write(self, name: str, n_in: int, df: DataFrame, path: str,
              t0: float, partition_by: list[str] | None = None) -> int:
        n_out = write_counted(df, os.path.join(self.out_dir, path),
                              partition_by)
        return self.record(name, n_in, n_out, t0)

    def fan_out(self, names: Sequence[str],
                fn: Callable[[str], tuple[int, int, Any]]) -> list[Any]:
        """Run ``fn(name)`` for every name at once, one pool thread per
        name, so the Spark scheduler overlaps the independent stages'
        jobs instead of serializing their fixed latencies. ``fn``
        returns ``(rows_in, rows_out, value)``; each call is recorded
        as a StageResult timed over the call, in ``names`` order, and
        the values come back in that order. The first failing call (in
        name order) re-raises once every call has finished."""
        def timed(name: str) -> tuple[StageResult, Any]:
            t0 = time.time()
            n_in, n_out, value = fn(name)
            return (StageResult(name, n_in, n_out,
                                round(time.time() - t0, 2)), value)

        with ThreadPoolExecutor(max_workers=max(1, len(names))) as pool:
            done = list(pool.map(timed, names))
        for result, _ in done:
            self._append(result)
        return [value for _, value in done]
