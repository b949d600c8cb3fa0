#!/usr/bin/env python
"""Memory-pressure evidence: the heavy tier completes under a
constrained heap by SPILLING, not OOMing (SCALING.md addendum 7).

The decade curves (addenda 1-6) prove the CPU/shuffle shape; this tool
proves the memory shape: at 100 TB no partition fits comfortably in
executor memory, so what matters is that the expensive operators sit on
Spark's spillable code paths (ExternalSorter / ObjectHashAggregate
fallback / UnsafeExternalSorter) rather than accumulating unbounded
JVM state. We run the heavy tier at sf1 (~6M lineitem rows, 50K docs,
200K vectors) inside a deliberately small driver=executor heap and read
each workload's memory and disk spill bytes with
medallion_data_pipeline_spark/metrics.py (the StageData the Spark UI
renders).

Two phases because growing the corpus wants a normal heap while the
measurement wants a tiny one (one JVM per process):

    python tools/scale_spill.py grow            # -> /tmp/mdp_sf1spill_keep
    python tools/scale_spill.py measure [mem]   # default 2g heap

Workloads: supplier_performance (join+agg star), dedup_ngram_jaccard
(shingle explode + AllPairs verify), corpus_token_stats (token explode
+ wide hash agg), dedup_embedding_lsh (banded vector join), plus a
global lineitem sort — the canonical guaranteed-spill shape at
data >> heap.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from medallion_data_pipeline_spark.session import get_spark
from tools.scale_heavy import best_of, grow_sf1

CORPUS = "/tmp/mdp_sf1spill_keep"

QUERIES = (
    "supplier_performance",
    "dedup_ngram_jaccard",
    "corpus_token_stats",
    "dedup_embedding_lsh",
)


def get_small_spark(mem: str) -> SparkSession:
    """local[32] with a deliberately small heap. Everything else
    matches session.get_spark(shuffle_partitions=32), minus the 64 MB
    broadcast override (a constrained heap should keep the default
    10 MB broadcast bound — that IS the production setting)."""
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("scale-spill")
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10 MB unless overridden; SPILL_BROADCAST=-1 forces
        # every join to the spillable sort-merge path — the documented
        # remedy when a planned broadcast no longer fits the heap
        .config("spark.sql.autoBroadcastJoinThreshold",
                os.environ.get("SPILL_BROADCAST", "10485760"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer"
                ".InferFiltersFromGenerate")   # see session.py
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def grow() -> None:
    if os.path.exists(os.path.join(CORPUS, "lineitem.parquet")):
        print(f"{CORPUS} already grown; reusing", flush=True)
        return
    spark = get_spark("scale-spill", shuffle_partitions=32)
    t0 = time.time()
    grow_sf1(spark, "/root/testdata/sf0.1", CORPUS, replicas=10)
    print(f"grown sf1 -> {CORPUS} in {time.time() - t0:.1f}s", flush=True)


def measure(mem: str) -> None:
    spark = get_small_spark(mem)
    from medallion_data_pipeline_spark.queries import REGISTRY, _load
    _load()

    print(f"heap={mem}; warm-up at sf0.001", flush=True)
    for name in QUERIES:
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {"heap": mem}
    runs: list[tuple[str, object]] = [(n, REGISTRY[n].fn) for n in QUERIES]

    def global_sort(s, d):
        return s.read.parquet(os.path.join(d, "lineitem.parquet")) \
            .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")

    def wide_hash_agg(s, d):
        # ~6M groups over 6M rows: HashAggregateExec exhausts its map
        # and falls back to sort-based aggregation — the third
        # spillable path next to ExternalSorter and the SMJ
        li = s.read.parquet(os.path.join(d, "lineitem.parquet"))
        return li.groupBy("l_orderkey", "l_linenumber").agg(
            F.sum("l_extendedprice").alias("s1"),
            F.sum("l_quantity").alias("s2"),
            F.max("l_shipdate").alias("d1"))

    runs.append(("global_sort_lineitem", global_sort))
    runs.append(("wide_hash_agg_6m_groups", wide_hash_agg))

    for name, fn in runs:
        wall, c = best_of(spark, lambda: fn(spark, CORPUS).write
                          .format("noop").mode("overwrite").save(), reps=1)
        rec = {
            "wall_s": round(wall, 2),
            "mem_spill_mb": round(c["memory_spill_bytes"] / 1e6, 1),
            "disk_spill_mb": round(c["disk_spill_bytes"] / 1e6, 1),
            "shuffle_write_mb": round(c["shuffle_write_bytes"] / 1e6, 1),
        }
        out[name] = rec
        print(f"  {name:24s} {rec['wall_s']:8.2f}s "
              f"mem_spill={rec['mem_spill_mb']:10.1f}MB "
              f"disk_spill={rec['disk_spill_mb']:9.1f}MB", flush=True)

    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "grow":
        grow()
    else:
        measure(sys.argv[2] if len(sys.argv) > 2 else
                (sys.argv[1] if len(sys.argv) > 1 else "2g"))
