#!/usr/bin/env python
"""Round-9 measurement: power-law (skewed-bucket) stress for the
pair-scoring tier — the one 100 TB risk uniform growth corpora cannot
produce (VERDICT r8 "Next round #1").

Every scale corpus so far is uniform-synthetic: bucket/cell loads are
flat, so the one-task-per-group applyInPandas kernels always got even
parallelism. A real crawl is power-law — one boilerplate cluster holds
5-10% of all documents/vectors and lands in ONE LSH bucket (every
table) and ONE k-means cell regardless of n_planes/k. This tool builds
that shape deterministically and measures the straggler plus the
_chunk_split_oversized mitigation:

- embeddings (150k vectors): a Zipf cluster ladder [30k, 10k, 5k,
  2.5k] at directions b_r with per-member noise eps=0.12 (in-cluster
  cosines ~0.986 +- 0.014, so the 0.995 measurement threshold keeps
  output bounded while the quadratic scoring work still happens for
  every cluster pair) plus a uniform tail. At 8 sign-planes the top
  cluster concentrates ~53% of its members into ONE modal bucket per
  table (~16k rows vs the uniform ~590) — a 126M-pair GEMM in one
  task — and k-means gives the whole cluster one cell (~30k rows,
  a 450M-pair single-task GEMM unsplit). The top-cluster share (20%)
  is deliberately above a real crawl's 5-10%: at local scale the
  straggler must dominate the fixed pipeline cost to be measurable,
  mirroring 100 TB where even a 5% cluster is millions of rows per
  bucket. (A first pass at 10%/8 tables measured the straggler at
  only ~2s of a 23s wall — real but buried; these parameters unbury
  it.)
- documents (50k docs, sf1-scale): the token-suffix growth model plus
  a 1.5k-doc boilerplate clique (one 60-token template + 3 unique
  tokens per doc, pairwise 3-shingle Jaccard ~0.85) — the CONTROL:
  minhash candidates come from a pure-plan band-key self-join whose
  hot key AQE skew-join can already split; no kernel, no split knob.
  Note the clique's output is intrinsically quadratic (every pair IS
  a true near-dup) — a data property, so the clique is kept small.

Per measurement (min-of-2): wall, executorRunTime delta (the work),
and rows out. Straggler evidence is wall vs executorRunTime/32 — an
idle-core straggler shows wall >> work/32 with work unchanged by the
split; the split must leave the pair set bit-identical (pinned by
test_skewed_bucket_split_pair_sets_identical).

Usage: python tools/scale_skew.py [--regen]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators import dedup as D
from medallion_data_pipeline_spark.operators import similarity as S
from medallion_data_pipeline_spark.sources.testdata import load_table
from medallion_data_pipeline_spark.session import get_spark
from tools.scale_heavy import best_of

SKEW_DIR = os.environ.get("MDP_SKEW_DIR", "/tmp/mdp_skew_keep")

N_VEC = 150_000
DIM = 64
CLUSTER_SIZES = [30_000, 10_000, 5_000, 2_500]
EPS = 0.12
N_DOCS_BASE_REPLICAS = 10   # 5k sf0.1 docs -> 50k
CLIQUE = 1_500


def _zipf_sizes():
    return CLUSTER_SIZES


def ensure_skew_embeddings(spark, out_dir):
    dst = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(dst):
        return
    import numpy as np
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    sizes = _zipf_sizes()
    # clusters sit at the TOP of the id range: deterministic_centroids
    # seeds Lloyd with the LOWEST ids, and a cluster that contains the
    # seeds gets shattered across seed cells instead of concentrating
    # into one — which under-measures the straggler (found in round 9:
    # low-id clusters measured cells unsplit 14.8s where the honest
    # high-id layout measures 34.0s; SCALING.md addendum 4). LSH
    # buckets come from sign patterns, not seeds, so the LSH rows are
    # id-position-independent either way.
    starts = N_VEC - sum(sizes) + np.cumsum([0] + sizes)

    def gen(batches):
        # one output batch per input row: row p generates vec_ids
        # [p*5000, (p+1)*5000) so the corpus grows executor-side
        for pdf in batches:
            for p in pdf["id"]:
                p = int(p)
                lo, hi = p * 5000, (p + 1) * 5000
                rng = np.random.RandomState(90_000 + p)
                x = rng.standard_normal((hi - lo, DIM))
                x /= np.linalg.norm(x, axis=1, keepdims=True)
                ids = np.arange(lo, hi)
                # overwrite clustered id ranges: b_r + eps * own noise
                for r, (s, e) in enumerate(zip(starts[:-1], starts[1:])):
                    m = (ids >= s) & (ids < e)
                    if m.any():
                        brng = np.random.RandomState(80_000 + r)
                        b = brng.standard_normal(DIM)
                        b /= np.linalg.norm(b)
                        x[m] = b + EPS * x[m]
                x = x.astype(np.float32)
                yield pd.DataFrame({
                    "vec_id": ids.astype("int64"),
                    "embedding": [x[i] for i in range(len(ids))],
                    "label": (ids % 10).astype("int32"),
                })

    spark.range(N_VEC // 5000).mapInPandas(
        gen, schema="vec_id long, embedding array<float>, label int"
    ).repartition(32).write.mode("overwrite").parquet(dst)
    print(f"skew embeddings -> {dst}", flush=True)


def ensure_skew_documents(spark, out_dir):
    dst = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(dst):
        return
    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    parts = [docs.select("doc_id", "text", "lang", "source", "n_chars")]
    for r in range(1, N_DOCS_BASE_REPLICAS):
        parts.append(docs.select(
            (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1~r{r}").alias("text"),
            "lang", "source",
        ).withColumn("n_chars", F.length("text"))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    grown = parts[0]
    for p in parts[1:]:
        grown = grown.unionByName(p)
    template = " ".join(f"boiler{j}" for j in range(60))
    clique = spark.range(CLIQUE).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.concat(F.lit(template + " "),
                 F.format_string("uq%da uq%db uq%dc",
                                 "id", "id", "id")).alias("text"),
        F.lit("en").alias("lang"), F.lit("boilerplate").alias("source"),
    ).withColumn("n_chars", F.length("text"))
    grown.unionByName(clique).repartition(32) \
        .write.mode("overwrite").parquet(dst)
    print(f"skew documents -> {dst}", flush=True)


def measure(spark, label, frame_fn, reps=2):
    best, c = best_of(spark, lambda: frame_fn().write.format("noop")
                      .mode("overwrite").save(), reps)
    work_ms, sh_w = c["run_s"] * 1000, c["shuffle_write_bytes"]
    rows = frame_fn().count()
    print(f"  {label:42s} wall={best:7.2f}s work={work_ms/1000:8.1f}s "
          f"(/32={work_ms/32000:6.2f}s) write={sh_w/1e6:8.1f}MB rows={rows}",
          flush=True)
    return {"wall_s": round(best, 2), "work_s": round(work_ms / 1000, 1),
            "shuffle_write_mb": round(sh_w / 1e6, 1), "rows": rows}


def main():
    spark = get_spark("scale-skew", shuffle_partitions=32)
    regen = "--regen" in sys.argv
    if regen:
        import shutil
        shutil.rmtree(SKEW_DIR, ignore_errors=True)
    ensure_skew_embeddings(spark, SKEW_DIR)
    ensure_skew_documents(spark, SKEW_DIR)
    emb = load_table(spark, SKEW_DIR, "embeddings")
    docs = load_table(spark, SKEW_DIR, "documents")

    out = {}
    print("== embedding_lsh_pairs (8 planes x 4 tables, thr 0.995) ==",
          flush=True)
    for mg in (None, 8192, 2048):
        out[f"lsh_mg{mg}"] = measure(
            spark, f"embedding_lsh_pairs max_group={mg}",
            lambda mg=mg: S.embedding_lsh_pairs(
                emb, threshold=0.995, n_planes=8, n_tables=4,
                max_group=mg))
    print("== semantic_dedup_cells (k=40, thr 0.995) ==", flush=True)
    for mg in (None, 8192, 2048):
        out[f"cells_mg{mg}"] = measure(
            spark, f"semantic_dedup_cells max_group={mg}",
            lambda mg=mg: S.semantic_dedup_cells(
                emb, k=40, iters=2, threshold=0.995, max_group=mg))
    print("== minhash near-dup control (band-key join, AQE) ==", flush=True)
    out["minhash_skew"] = measure(
        spark, "minhash_near_duplicates skew-docs",
        lambda: D.minhash_near_duplicates(docs, threshold=0.4))
    # the cluster-flow knob: star candidates in oversized band buckets
    # (linear in clique size; pair set intentionally reduced — compare
    # the CLUSTER count, not rows)
    from medallion_data_pipeline_spark.operators.graph import connected_components
    for label, star in (("full", None), ("star64", 64)):
        out[f"minhash_clusters_{label}"] = measure(
            spark, f"near-dup clusters oversized_star={star}",
            lambda star=star: connected_components(
                D.minhash_near_duplicates(docs, threshold=0.4,
                                          oversized_star=star)))

    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
