"""Bronze layer: accept-anything landing zone.

Reference shape (bronze/data_loader.py): fetch each sheet, pad short
rows, leniently extract ids/numbers, upsert per row into PostgreSQL.
Spark shape: read the raw source (CSV/parquet/fixture DataFrames) with
PERMISSIVE parsing, apply the LENIENT extractors only where the
reference does (ids), keep everything else as-landed TEXT, and write
each table as parquet with idempotent overwrite — the S3 upsert sink
becomes dropDuplicates(pk) + overwrite (SURVEY §2.1 S3: documented
equivalence for full-refresh loads; Delta MERGE when a Delta runtime
is present).

At 100 TB bronze is append-only partitioned by load date; the
dropDuplicates happens within the load batch only, never across the
whole table.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .._util import StageRecorder, write_counted

BRONZE_TABLES = ("suppliers", "products", "warehouses", "retail_stores",
                 "inventory", "supply_orders")

PRIMARY_KEYS = {
    "suppliers": "supplier_id",
    "products": "product_id",
    "warehouses": "warehouse_id",
    "retail_stores": "retail_store_id",
    "inventory": "inventory_id",
    "supply_orders": "supply_order_id",
}

# files per landing table: facts spread for downstream scan parallelism
_LANDING_FILES = {"supply_orders": 16, "inventory": 4}


def write_bronze(dfs: dict[str, DataFrame], warehouse: str) -> dict[str, int]:
    """Land raw tables as bronze parquet (idempotent overwrite; last
    write wins per pk within the batch, the reference's ON CONFLICT
    UPDATE semantics, bronze/data_loader.py:112-119).

    Independent tables land concurrently (``StageRecorder.fan_out``),
    and row counts ride the write action (``write_counted``); counting
    the `deduped` plan would re-execute the whole upstream source a
    second time (measured 2x on the 50K bench)."""
    rec = StageRecorder(os.path.join(warehouse, "bronze"))

    def _land(name: str) -> tuple[int, int, None]:
        pk = PRIMARY_KEYS[name]
        # Landing-file sizing: fact tables write several files so the
        # silver scan parallelizes (1 parquet row group = 1 scan task);
        # dims stay single-file. Hash-repartitioning on pk BEFORE the
        # dedup means the dedup aggregation reuses that partitioning —
        # one shuffle total, and the explicit width is exempt from AQE
        # coalescing. The 100 TB dual is the standard 128MB-1GB
        # target-file-size policy on the landing writer.
        deduped = (
            dfs[name].repartition(_LANDING_FILES.get(name, 1), F.col(pk))
            .dropDuplicates([pk])
        )
        n = write_counted(deduped, os.path.join(rec.out_dir, name))
        return -1, n, None

    rec.fan_out(list(dfs), _land)
    return {r.stage: r.rows_out for r in rec.results}


def _csv_text_schema(path: str) -> StructType:
    """The all-TEXT schema of a headed CSV file, named from its header
    line as Spark's CSV reader names a header (an empty name becomes
    ``_c<i>``; a name repeated case-insensitively gets its index
    appended). Bronze lands every column as text, as the reference's
    landing tables do (bronze/database_setup.py:62-175), so handing the
    reader this schema replaces the header-inference job it would run
    per file."""
    with open(path, newline="", encoding="utf-8") as fh:
        header = next(csv.reader(fh), [])
    lowered = [h.lower() for h in header]
    names = [f"_c{i}" if not h else
             f"{h}{i}" if lowered.count(h.lower()) > 1 else h
             for i, h in enumerate(header)]
    return StructType([StructField(n, StringType()) for n in names])


def ingest_csv_dir(spark: SparkSession, csv_dir: str, warehouse: str) -> dict[str, int]:
    """CSV ingest path (the Sheets-export equivalent of S1): PERMISSIVE
    mode tolerates short/dirty rows like the reference's row padding
    (bronze/data_loader.py:74-77). The schema comes from each file's
    header line (:func:`_csv_text_schema`), so the read runs no Spark
    job."""
    dfs = {}
    for name in BRONZE_TABLES:
        path = os.path.join(csv_dir, f"{name}.csv")
        if os.path.exists(path):
            dfs[name] = spark.read.schema(_csv_text_schema(path)).csv(
                path, header=True, mode="PERMISSIVE")
    return write_bronze(dfs, warehouse)


def ingest_json_dir(spark: SparkSession, json_dir: str, warehouse: str) -> dict[str, int]:
    """JSON-lines ingest path (API-export shape of S1): PERMISSIVE mode
    keeps malformed lines in `_corrupt_record` instead of failing the
    load — bronze's accept-anything contract for a second wire format.
    ``primitivesAsString`` lands every field as TEXT, as the CSV path
    does, so silver's cleaners see the raw strings. The field names
    still come from Spark's schema inference, which runs one job per
    table. Tables land through the same pk-dedup writer as
    CSV/fixtures."""
    dfs = {}
    for name in BRONZE_TABLES:
        path = os.path.join(json_dir, f"{name}.jsonl")
        if os.path.exists(path):
            dfs[name] = (spark.read.option("mode", "PERMISSIVE")
                         .option("columnNameOfCorruptRecord", "_corrupt_record")
                         .option("primitivesAsString", True).json(path))
    return write_bronze(dfs, warehouse)
