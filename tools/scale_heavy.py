#!/usr/bin/env python
"""Scaling measurement for the heavy query tier: sf0.01 -> sf0.1 -> sf1.

sf1 does not exist as driver testdata, so it is GROWN from sf0.1 by
structure-preserving replication (replicas = 10):

- documents: every replica r > 0 suffixes every token with ``~r{r}``
  (one regexp, JVM-side). Token universes are therefore DISJOINT
  across replicas while every within-replica shingle/Jaccard/minhash
  relationship is preserved bijectively — so duplicate pairs, LSH
  collisions, and contamination hits all scale exactly linearly with
  corpus size (each replica is an isomorphic copy), which is the
  duplicate-density-preserving growth a real 10x crawl would show.
  Verbatim replication (tools/scale_corpus_pipeline.py) is the WRONG
  growth model here: it makes every doc a 10-way exact dup, inflating
  candidate pairs quadratically by construction.
- embeddings: grown with FRESH deterministic uniform unit vectors
  (seeded gaussian, normalized, float32), replicating the driver
  generator's measured profile — the real vectors are uniform on the
  64-sphere (point-to-cluster-center cosine ~0.06, per-dim energy
  flat, and the exact >=0.42 pair count at sf0.01 (34) matches the
  uniform-tail expectation (~32)). NOTE this means the >=0.42 pair
  count inherently grows ~n^2 in this corpus — a DATA property, not
  an engine property; transform-based replication was tried first and
  rejected because no orthogonal transform can decohere 10 copies of
  a 64-dim point set below the 0.42 tail (measured: sign-flip
  replicas leaked 194 cross-replica pairs at 3x sf0.01). The scaling
  table therefore reports embedding-pair queries both raw and
  normalized by output pairs.
- orders/lineitem: o_orderkey/l_orderkey offset per replica (facts
  grow 10x); dimension tables stay fixed — the TPC-H growth model,
  and exactly the broadcast-dim shape the queries assume.

Per (query, sf): min-of-2 wall (cache cleared before each run; plans
pre-warmed at sf0.001 so codegen compile is excluded — same
methodology as bench.py) plus that run's shuffle-write/read bytes
(medallion_data_pipeline_spark/metrics.py).

Usage:
    python tools/scale_heavy.py            # full curve, prints a table
    python tools/scale_heavy.py --sf1-only # skip the small-sf points
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from medallion_data_pipeline_spark.metrics import capture
from medallion_data_pipeline_spark.session import default_parallelism, get_spark
from medallion_data_pipeline_spark.sources.testdata import TABLES, load_table

HEAVY = (
    "dedup_ngram_jaccard",
    "dedup_span_intervals",
    "dedup_clusters",
    "contamination_check",
    "dedup_semantic_cells",
    "dedup_embedding_lsh",
    "knn_cosine_pq_adc",
    "dashboard_wide",
)

REPLICAS = 10
_DOC_OFF = 10_000_000   # divisible by 100 -> doc_id % 100 structure kept
_VEC_OFF = 10_000_000   # divisible by 50  -> query-point density kept
_ORD_OFF = 100_000_000


def best_of(spark: SparkSession, action, reps: int = 2) -> tuple[float, dict]:
    """(min wall, metrics.capture counters of that rep) over ``reps``
    runs of ``action()``, with the cache cleared before each."""
    best, counters = float("inf"), {}
    for _ in range(reps):
        spark.catalog.clearCache()
        with capture(spark) as c:
            t0 = time.time()
            action()
            wall = time.time() - t0
        if wall < best:
            best, counters = wall, dict(c)
    return best, counters


def _fresh_vectors(r: int, n: int, dim: int):
    """Replica r's fresh uniform unit vectors: MT19937 is bit-stable
    across numpy versions, so the grown corpus is reproducible."""
    import numpy as np

    rng = np.random.RandomState(40_000 + r)
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def grow_sf1(spark: SparkSession, base_dir: str, out_dir: str,
             replicas: int = REPLICAS) -> None:
    os.makedirs(out_dir, exist_ok=True)
    par = default_parallelism()

    docs = load_table(spark, base_dir, "documents")
    parts = [docs]
    for r in range(1, replicas):
        parts.append(docs.select(
            (F.col("doc_id") + r * _DOC_OFF).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1~r{r}").alias("text"),
            "lang", "source",
        ).withColumn("n_chars", F.length("text")))
    grown = parts[0].select("doc_id", "text", "lang", "source", "n_chars")
    for p in parts[1:]:
        grown = grown.unionByName(p.select(
            "doc_id", "text", "lang", "source", "n_chars"))
    grown.repartition(par).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet"))

    emb = load_table(spark, base_dir, "embeddings")
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    eparts = [emb.select("vec_id", "embedding", "label")]
    for r in range(1, replicas):
        x = _fresh_vectors(r, n, dim)
        rows = [(int(r * _VEC_OFF + i), [float(v) for v in x[i]], int(i % 10))
                for i in range(n)]
        eparts.append(
            spark.createDataFrame(
                spark.sparkContext.parallelize(rows, 4),
                "vec_id bigint, embedding array<float>, label int"))
    egrown = eparts[0]
    for p in eparts[1:]:
        egrown = egrown.unionByName(p)
    egrown.repartition(par).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet"))

    for tname, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tbl = load_table(spark, base_dir, tname)
        gparts = [tbl]
        for r in range(1, replicas):
            gparts.append(tbl.withColumn(key, F.col(key) + r * _ORD_OFF))
        g = gparts[0]
        for p in gparts[1:]:
            g = g.unionByName(p)
        g.repartition(par).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{tname}.parquet"))

    for tname in TABLES:
        dst = os.path.join(out_dir, f"{tname}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base_dir, f"{tname}.parquet"), dst)


def measure(spark: SparkSession, registry, sf_label: str, sf_dir: str,
            reps: int = 2) -> dict[str, dict]:
    out = {}
    for name in HEAVY:
        q = registry[name]
        best, c = best_of(spark, lambda: q.fn(spark, sf_dir).write
                          .format("noop").mode("overwrite").save(), reps)
        sh_w, sh_r = c["shuffle_write_bytes"], c["shuffle_read_bytes"]
        n_rows = q.fn(spark, sf_dir).count()  # untimed; count() prunes
        out[name] = {"wall_s": round(best, 2),
                     "shuffle_write_mb": round(sh_w / 1e6, 1),
                     "shuffle_read_mb": round(sh_r / 1e6, 1),
                     "rows": n_rows}
        print(f"  {sf_label:7s} {name:24s} {best:7.2f}s "
              f"write={sh_w/1e6:9.1f}MB read={sh_r/1e6:9.1f}MB "
              f"rows={n_rows}", flush=True)
    return out


def main() -> None:
    sf1_only = "--sf1-only" in sys.argv
    spark = get_spark("scale-heavy", shuffle_partitions=32)
    from medallion_data_pipeline_spark.queries import REGISTRY, _load
    _load()

    print("warm-up at sf0.001 (compile codegen once; excluded from timings)",
          flush=True)
    for name in HEAVY:
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()

    results: dict[str, dict[str, dict]] = {}
    if not sf1_only:
        for label, d in (("sf0.01", "/root/testdata/sf0.01"),
                         ("sf0.1", "/root/testdata/sf0.1")):
            print(f"== {label} ==", flush=True)
            results[label] = measure(spark, REGISTRY, label, d)

    sf1_dir = tempfile.mkdtemp(prefix="mdp_sf1_")
    try:
        print(f"== growing sf1 ({REPLICAS}x sf0.1) -> {sf1_dir} ==", flush=True)
        t0 = time.time()
        grow_sf1(spark, "/root/testdata/sf0.1", sf1_dir)
        print(f"   grown in {time.time()-t0:.1f}s", flush=True)
        print("== sf1 ==", flush=True)
        results["sf1"] = measure(spark, REGISTRY, "sf1", sf1_dir, reps=2)
    finally:
        shutil.rmtree(sf1_dir, ignore_errors=True)

    print(json.dumps(results))


if __name__ == "__main__":
    main()
