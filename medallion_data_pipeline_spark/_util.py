"""Shared engine-internal helpers."""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def tiny_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side metadata/result rows as a one-partition DataFrame
    that plans as a ``LocalTableScan``.

    The rows travel as one Arrow table, so the frame's lineage holds
    no ``PythonRDD``: a later action (an audit write, a collect) starts
    no Python worker, where ``createDataFrame(list)`` or a
    ``parallelize``d slice pays one worker round-trip per slice
    (silver's 6-row etl_log write: 0.85 s vs 0.14-0.18 s). Arrow
    tables take this path whatever the session's
    ``spark.sql.execution.arrow.pyspark.enabled`` says. A local scan
    splits into one task per row up to the core count, so the frame
    is coalesced to one partition: one task, and one file per write."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, row)) for row in rows],
        schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct).coalesce(1)


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


def _first_data_file(path: str) -> str | None:
    """The first file under ``path`` that a parquet scan reads: hidden
    (``.``/``_``) names skipped, partition directories descended in
    name order."""
    if not os.path.isdir(path):
        return path if os.path.isfile(path) else None
    for name in sorted(os.listdir(path)):
        if not name.startswith((".", "_")):
            found = _first_data_file(os.path.join(path, name))
            if found is not None:
                return found
    return None


#: footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The one parquet read of the package: the table at ``path`` (one
    file, or a directory of part files and partition directories) with
    its schema taken from ONE footer, read with pyarrow on the driver,
    and handed to the reader — so the read runs no Spark job, where a
    bare ``spark.read.parquet(path)`` runs one schema-inference job
    before any data is read (0.099 s median on a warm session against
    0.011 s with a declared schema). The schema is the one Spark stored
    under its row-metadata key when Spark wrote the file, else the
    file's Arrow schema converted as Spark's reader maps parquet types.
    Partition columns are found from the paths, as inference finds
    them. A path with no data file falls through to Spark's own
    inference and error."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    data_file = _first_data_file(path)
    if data_file is None:
        return spark.read.parquet(path)
    meta = pq.read_metadata(data_file)
    stored = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        schema = StructType.fromJson(json.loads(stored))
    else:
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled",
                             "true") == "true"
        arrow = meta.schema.to_arrow_schema()
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong",
                          "false") == "true":
            # the only way Spark reads TIMESTAMP(NANOS): as raw longs
            schema = StructType([
                StructField(f.name, LongType(), f.nullable)
                if pa.types.is_timestamp(a.type) and a.type.unit == "ns"
                else f for f, a in zip(schema.fields, arrow)])
    return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, warehouse: str, layer: str,
               name: str) -> DataFrame:
    """One warehouse table, ``<warehouse>/<layer>/<name>``: the single
    read path for every medallion layer (bronze, silver, gold, audit)."""
    return read_parquet(spark, os.path.join(warehouse, layer, name))


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
