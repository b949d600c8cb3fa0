#!/usr/bin/env python
"""A/B the embedding-LSH candidate scorer at 10x sf0.1: Arrow-batched
einsum vs pure-JVM expression fold, on the identical grown corpus.

The pre-score-dedupe path (carry_vectors=False, the benched config)
ships (id_a, id_b, va, vb, na, nb) into the scorer — with the numpy
scorer that is an Arrow transfer of two 64-double vectors per
candidate pair, so whether einsum wins depends on candidate volume vs
per-pair fold cost. This tool measures both on the same data plus the
raw candidate-pair count, so the default is chosen by a number.

Grows sf1 into $MDP_SF1_DIR (default /tmp/mdp_sf1_keep) and REUSES it
if already present — delete the dir to force a regrow.

Usage: python tools/scale_lsh_scorer.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators.similarity import embedding_lsh_pairs
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_heavy import grow_sf1


def main() -> None:
    spark = get_spark("scale-lsh-scorer", shuffle_partitions=32)
    sf1_dir = os.environ.get("MDP_SF1_DIR", "/tmp/mdp_sf1_keep")
    if not os.path.exists(os.path.join(sf1_dir, "embeddings.parquet")):
        t0 = time.time()
        grow_sf1(spark, "/root/testdata/sf0.1", sf1_dir)
        print(f"grown sf1 in {time.time() - t0:.1f}s", flush=True)
    emb = load_table(spark, sf1_dir, "embeddings")

    # candidate volume: distinct colliding pairs vs per-collision rows
    dv = F.col("embedding")
    from medallion_data_pipeline_spark.functions import vectors as V
    keys = F.array(*[
        V.sign_lsh_key(F.transform(dv, lambda x: x.cast("double")), 4,
                       101 + t, 64) for t in range(8)])
    keyed = emb.select(F.col("vec_id").alias("vid"),
                       F.posexplode(keys).alias("tbl", "bucket"))
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a.vid") < F.col("b.vid"))) \
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
    n_coll = cand.count()
    n_pairs = cand.dropDuplicates(["id_a", "id_b"]).count()
    print(f"collisions={n_coll} distinct_pairs={n_pairs}", flush=True)

    out = {"collisions": n_coll, "distinct_pairs": n_pairs}
    for scorer in ("numpy", "expr"):
        q = embedding_lsh_pairs(emb, threshold=0.42, n_planes=4, n_tables=8,
                                seed=101, carry_vectors=False, scorer=scorer)
        q.write.format("noop").mode("overwrite").save()   # warm
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            embedding_lsh_pairs(emb, threshold=0.42, n_planes=4, n_tables=8,
                                seed=101, carry_vectors=False,
                                scorer=scorer).write.format("noop") \
                .mode("overwrite").save()
            best = min(best, time.time() - t0)
        out[scorer] = round(best, 2)
        print(f"  scorer={scorer:6s} wall={best:6.2f}s", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
