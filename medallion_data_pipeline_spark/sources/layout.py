"""Physical data layout helpers — the knobs that matter at 100 TB.

The reference's b-tree indexes (bronze/database_setup.py:146-153)
have three Spark equivalents, each here:

- partitioned writes  -> partition pruning on predicate columns;
- bucketed tables     -> co-located joins/aggregations with NO shuffle
  on the bucket key (`bucketBy` + `saveAsTable`);
- sized output files  -> repartition-on-write so downstream scans see
  neither a million tiny files nor unsplittable monsters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Hive-style partitioned parquet: predicates on partition_cols
    prune directories before any I/O."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(df: DataFrame, table: str, bucket_col: str,
                         n_buckets: int = 16, sort_col: str | None = None,
                         mode: str = "overwrite", path: str | None = None) -> None:
    """Bucketed table: joins/aggregations on ``bucket_col`` between
    tables bucketed the same way skip the shuffle entirely (both sides
    are already hash-distributed identically on disk). Pass ``path``
    for an external table (warehouse.dir is static config)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_sized(df: DataFrame, path: str, target_file_mb: int = 128,
                approx_row_bytes: int = 100, mode: str = "overwrite") -> None:
    """Repartition-on-write to a target file size from a cheap row
    estimate. Costs one extra `count()` pass over the input — fine for
    a one-time layout job; the hot-path form is
    :func:`write_sized_aqe`, which sizes files from runtime shuffle
    statistics with no extra pass."""
    n_rows = df.count()
    total_mb = max(n_rows * approx_row_bytes / (1024 * 1024), 1)
    n_files = max(int(total_mb / target_file_mb), 1)
    df.repartition(n_files).write.mode(mode).parquet(path)


def write_sized_aqe(df: DataFrame, path: str, target_file_mb: int = 128,
                    mode: str = "overwrite") -> None:
    """Size output files WITHOUT the extra count() pass: the REBALANCE
    hint asks AQE to split/coalesce the final shuffle's partitions to
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` using the
    actual runtime byte statistics — no row-size guess, and skewed
    output partitions are split, which a fixed ``repartition(n)``
    cannot do. This is the 100 TB form: one shuffle that the write was
    usually paying anyway, sized by measurement."""
    spark = df.sparkSession
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(advisory)
    spark.conf.set(advisory, f"{target_file_mb}m")
    try:
        df.hint("rebalance").write.mode(mode).parquet(path)
    finally:
        spark.conf.set(advisory, old)


def write_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                    n_files: int = 8, mode: str = "overwrite") -> None:
    """Range-cluster rows on write so parquet min/max statistics become
    a skip index: ``repartitionByRange`` gives each output file a
    disjoint value range on ``cluster_cols``, and the within-file sort
    tightens row-group stats. A range predicate on the cluster column
    then skips whole files/row groups at scan time — the single-column
    equivalent of Z-ordering, with no table format required."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode).parquet(path)
    )


def _write_curve_clustered(df: DataFrame, path: str, key, files: int,
                           mode: str) -> None:
    """Shared write recipe for the space-filling-curve layouts: attach
    the curve key, range-partition into ``files`` key-contiguous
    files, sort within each, drop the key before writing. One body so
    write_zordered/write_hilbert can never drift apart (the same
    adjacency contract their SQL duals get from living side by side)."""
    tmp = "__curve_key"
    if tmp in df.columns:
        raise ValueError(
            f"input already has a {tmp!r} column; rename it before a "
            "curve-clustered write (withColumn would overwrite it)")
    (df.withColumn(tmp, key)
     .repartitionByRange(files, tmp)
     .sortWithinPartitions(tmp)
     .drop(tmp)
     .write.mode(mode).parquet(path))


def write_zordered(df: DataFrame, path: str,
                   dims: list[tuple[str, int, int]], files: int = 64,
                   bits: int | None = None, mode: str = "overwrite") -> None:
    """Z-order-clustered parquet write — :func:`write_clustered`'s
    multi-column upgrade (the engine's OPTIMIZE ZORDER BY): compute
    the bit-interleaved key over ``dims = [(col, min, max), ...]``
    (functions/layout.py — exact integer arithmetic, codegen'd, no
    UDF), range-partition into ``files`` z-contiguous files, sort
    within each, drop the key before writing. Every interleaved
    dimension's footer min/max is then locally bounded per file, so
    min/max pruning works for ANY of them — as row-group skipping
    inside the vanilla parquet reader (pushdown reads the footer,
    skips the data pages), and as whole-file skipping under a
    stats-indexing table format (Delta/Iceberg) or any planner that
    consults footers. Measured at sf0.1/64 files
    (docs/SCALING.md addendum 9):
    a 10%×10% two-column box reads 4/64 files (linear sort: 7, and
    only because the box also constrains its sort key; unsorted: 64),
    and a second-column-only 10% range reads 12/64 where the linear
    layout reads all 64. For 2-D clustering prefer :func:`write_hilbert`
    (2/64 on the same box at equal write cost, addendum 10); z-order is
    the shipped path for 3+ dims, where the interleave generalizes for
    free."""
    from ..functions import layout as L

    kw = {} if bits is None else {"bits": bits}
    _write_curve_clustered(df, path, L.zorder_key(
        [(F.col(c), lo, hi) for c, lo, hi in dims], **kw), files, mode)


def write_hilbert(df: DataFrame, path: str,
                  dims: list[tuple[str, int, int]], files: int = 64,
                  bits: int | None = None, mode: str = "overwrite") -> None:
    """Hilbert-curve-clustered parquet write — :func:`write_zordered`
    with the space-filling curve swapped for one with NO diagonal
    locality jumps (consecutive keys are always Manhattan-adjacent
    cells; functions/layout.py::hilbert_key, exact shift/mask state
    machine, no UDF). A key-range slice of a Hilbert-sorted file
    therefore maps to a tighter bounding box than the same slice
    z-sorted, which typically prunes fewer files for the same box
    predicate (measured head-to-head in docs/SCALING.md addendum
    10). 2-D only; z-order remains the shipped
    default for 3+ dims."""
    from ..functions import layout as L

    kw = {} if bits is None else {"bits": bits}
    _write_curve_clustered(df, path, L.hilbert_key(
        [(F.col(c), lo, hi) for c, lo, hi in dims], **kw), files, mode)

