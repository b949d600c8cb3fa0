"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (local[N] with N
from ``SPARK_GRAFT_CPUS``), but every knob here is the one we would set
on a 1000-executor cluster too: AQE on (runtime re-plan, skew-join
handling, partition coalescing), shuffle partitions sized to the
parallelism at hand, UTC session timezone (oracle comparability), Arrow
enabled for the pandas-UDF slow path.

The engine never *requires* its own session — all operators and queries
accept a caller-provided SparkSession (the driver's verify harness
passes one in) — this factory is for the CLI, tests, and bench.

Session contract: the engine assumes ``spark.sql.session.timeZone=UTC``
(set here). A caller-provided session with a different timezone is
overridden — with a warning — on first table load
(sources/testdata.py::ensure_utc_session), because timezone-dependent
expressions must match the DuckDB oracle's naive-as-UTC file reading.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "medallion_data_pipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        # local mode: ~1 shuffle partition per core; on a real cluster this
        # would scale with executors * cores (and AQE coalesces the excess).
        shuffle_partitions = max(cpus, 8)
    # a quarter of physical memory: in local mode the driver JVM runs
    # every task and its resident size grows well past the heap, so a
    # heap near the host's RAM gets it OOM-killed instead of spilling
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{ram_mb // 4}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate rewrites explode(computed_array) into
        # a pushed-down `size(...) > 0` filter that re-substitutes the
        # array expression at EVERY reference site — for shingles-over-
        # tokens that inlines the tokenizer inside the per-index slice
        # lambda, i.e. O(tokens²) per row in a filter that then runs
        # below the repartition where the doc_id prune can't reach.
        # Measured at sf0.1: explode of a staged shingle column 4.1 s
        # with the rule, 0.34 s without; outputs identical (the engine's
        # explode inputs are never predominantly empty, which is the
        # only case the rule helps). docs/PERFORMANCE.md #28.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer"
                ".InferFiltersFromGenerate")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
