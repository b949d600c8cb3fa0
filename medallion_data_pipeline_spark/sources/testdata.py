"""Readers for the driver-provided TPC-H-ish parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale notes: parquet scans get column pruning + predicate pushdown from
Catalyst for free as long as callers express projections/filters
declaratively (SURVEY.md §4). The small dimensions (region, nation,
supplier, part, customer) are broadcast-join candidates at any scale
factor — a 100 TB lineitem still joins the same 25-row nation table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._util import _first_data_file, read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimensions small enough to broadcast at any realistic scale
BROADCAST_DIMS = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: columns written as parquet TIMESTAMP — depending on how the driver
#: generated the files they arrive as TIMESTAMP(NANOS) (Spark reads them
#: only as raw longs via the legacy conf) or as naive TIMESTAMP(MICROS)
#: (Spark 4 infers TIMESTAMP_NTZ). Both are normalized to a plain
#: TimestampType whose instant equals the wall-clock read as UTC — the
#: exact interpretation DuckDB applies to the same files — independent of
#: the caller session's timezone.
NANO_TS_COLUMNS = {"events": ("ts",)}


def ensure_utc_session(spark: SparkSession) -> None:
    """Enforce the engine's UTC-session contract, loudly.

    The determinism contract (queries/__init__.py) makes session-
    timezone-dependent functions (date_format/date_trunc on
    TimestampType) agree with the oracle's naive-as-UTC reading of the
    same files — sessions from :func:`..session.get_spark` are already
    UTC. A caller-provided session with another timezone is mutated
    here (queries would silently hash-diverge otherwise), but only when
    it actually differs, and with a warning naming the override — not
    as a silent side effect of every table read."""
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        import warnings

        warnings.warn(
            "medallion_data_pipeline_spark requires spark.sql.session."
            "timeZone=UTC (oracle comparability); overriding the "
            "session's configured timezone. Build sessions with "
            "medallion_data_pipeline_spark.session.get_spark to avoid "
            "this.", stacklevel=3)
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_utc_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    nano_cols = NANO_TS_COLUMNS.get(name, ())
    if nano_cols and _has_nanos(path, nano_cols):
        # Spark reads TIMESTAMP(NANOS) only as raw longs, and only under
        # this conf, which the scan reads again when the plan executes
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    dtypes = dict(df.dtypes)
    for c in nano_cols:
        if dtypes.get(c) == "bigint":
            # integer div: double division loses precision on epoch-nanos (> 2^53)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            # NTZ wall-clock -> UTC instant, session-timezone independent
            df = df.withColumn(c, F.to_utc_timestamp(F.col(c), "UTC"))
    return df


def _has_nanos(path: str, cols: tuple[str, ...]) -> bool:
    """Whether any of ``cols`` is a TIMESTAMP(NANOS) column in the
    footer of ``path``'s first data file (read with pyarrow, no Spark
    job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_file = _first_data_file(path)
    if data_file is None:
        return False
    schema = pq.read_schema(data_file)
    return any(c in schema.names
               and pa.types.is_timestamp(schema.field(c).type)
               and schema.field(c).type.unit == "ns" for c in cols)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata table from parquet FOOTER metadata
    — no Spark job. This is the local analog of catalog/metastore
    statistics on a real cluster: callers use it to pass row-bound
    hints to operators whose plan construction would otherwise run an
    eager count (``embedding_lsh_pairs(n_rows=...)`` /
    ``semantic_dedup_cells(n_rows=...)`` — the oversized-group
    chunk-split's no-split fast path). Handles both a single parquet
    file and a directory of part files (the bench re-layout)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _dirs, files in os.walk(path)
            for f in files if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so spark.sql() queries (the
    Query-Runner surface, SURVEY.md §2.9 U4) can reference them by name."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
