#!/usr/bin/env python
"""Round-8 measurement: corpus-side scaling of the ANN tier at a
FIXED query batch (|Q| = 200), sf1 -> sf10.

The benched kNN queries pin the query set as ``vec_id % 50 == 0``, so
|Q| grows with the corpus and query x corpus scoring is quadratic BY
QUERY CONSTRUCTION — which is why docs/SCALING.md excluded the tier
from the sf10 table and the ANN scale claim had no third-decade
datum. A deployment scores a fixed query batch against a growing
corpus; this tool measures exactly that.

Query batch: the 200 lowest-id vectors of the ORIGINAL sf0.1 base
(vec_id < 200 after offset check). The growth model adds replicas at
vec_id >= 10M, so the SAME 200 vectors are the batch at sf1 and sf10
— only the corpus side grows, and the measured exponent is purely
corpus-side.

Measured ops (min-of-2, shuffle deltas, same harness as
scale_sf10.py):
- knn_ivf_probe with nprobe=1 at the oracle-pinned 8 cells
  (assignment linear in n,
  in-cell candidates |Q| x n/8 — asymptotically linear at fixed
  parameters; the k ~ sqrt(n) cell knob is measured separately for
  semantic cells in docs/SCALING.md)
- knn_pq_adc at the pinned 4x8 codebooks (training is
  corpus-size-independent; the scored join streams the n x m
  compressed codes — asymptotically linear)

With --sf100 the curve gets a FOURTH decade: an embeddings-only grown
corpus (2M vectors, ~1 GB — the fact tables would need ~60 GB so only
the embedding table grows; the ANN ops read nothing else). Replicas
1..999 reuse scale_heavy._fresh_vectors(r, n, dim) seed-for-seed, so
sf100's embeddings are a SUPERSET of sf10's — the same growth model,
one more decade, generated executor-side via mapInPandas instead of
999 driver-side createDataFrame calls.

Usage: python tools/scale_knn_fixedq.py [--sf100]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators.similarity import (
    knn_ivf_probe, knn_pq_adc)
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_heavy import best_of, grow_sf1

Q_MAX = 200  # fixed batch: original-base vec_ids < 200 at every SF

OPS = {
    "knn_ivf_fixedq": lambda emb, q: knn_ivf_probe(emb, q, k=5, n_cells=8,
                                                   nprobe=1),
    "knn_pq_adc_fixedq": lambda emb, q: knn_pq_adc(emb, q, k=5, m=4,
                                                   n_codes=8, iters=1),
}


def ensure(spark, base, out, replicas):
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        t0 = time.time()
        grow_sf1(spark, base, out, replicas=replicas)
        print(f"grown {out} (x{replicas}) in {time.time() - t0:.1f}s",
              flush=True)


def ensure_embeddings_only(spark, base, out, replicas):
    dst = os.path.join(out, "embeddings.parquet")
    if os.path.exists(dst):
        return
    import pandas as pd

    from tools.scale_heavy import _VEC_OFF, _fresh_vectors

    t0 = time.time()
    os.makedirs(out, exist_ok=True)
    emb = load_table(spark, base, "embeddings")
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])

    def gen(batches):
        for pdf in batches:
            for r in pdf["id"]:
                r = int(r)
                x = _fresh_vectors(r, n, dim)
                yield pd.DataFrame({
                    "vec_id": (r * _VEC_OFF
                               + pd.RangeIndex(n)).astype("int64"),
                    "embedding": [x[i] for i in range(n)],
                    "label": (pd.RangeIndex(n) % 10).astype("int32"),
                })

    grown = spark.range(1, replicas).mapInPandas(
        gen, schema="vec_id long, embedding array<float>, label int")
    emb.select("vec_id", "embedding", "label").unionByName(grown) \
        .repartition(32).write.mode("overwrite").parquet(dst)
    print(f"grown embeddings-only {out} (x{replicas}) "
          f"in {time.time() - t0:.1f}s", flush=True)


def measure(spark, sf_dir, label):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < Q_MAX)
    nq = q.count()
    assert nq == Q_MAX, f"query batch drifted: {nq} != {Q_MAX}"
    out = {}
    for name, fn in OPS.items():
        best, c = best_of(spark, lambda: fn(emb, q).write
                          .format("noop").mode("overwrite").save())
        sh_w = c["shuffle_write_bytes"]
        rows = fn(emb, q).count()
        out[name] = {"wall_s": round(best, 2),
                     "shuffle_write_mb": round(sh_w / 1e6, 1), "rows": rows}
        print(f"  {label} {name:18s} {best:8.2f}s "
              f"write={sh_w / 1e6:9.1f}MB rows={rows}", flush=True)
    return out


def main() -> None:
    spark = get_spark("scale-knn-fixedq", shuffle_partitions=32)
    sf1_dir = os.environ.get("MDP_SF1_DIR", "/tmp/mdp_sf1_keep")
    sf10_dir = os.environ.get("MDP_SF10_DIR", "/tmp/mdp_sf10_keep")
    ensure(spark, "/root/testdata/sf0.1", sf1_dir, 10)
    ensure(spark, "/root/testdata/sf0.1", sf10_dir, 100)

    # warm-up at sf0.001 (codegen/JIT)
    warm = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    wq = warm.filter(F.col("vec_id") < Q_MAX)
    for fn in OPS.values():
        fn(warm, wq).write.format("noop").mode("overwrite").save()

    out = {"sf1": measure(spark, sf1_dir, "sf1 "),
           "sf10": measure(spark, sf10_dir, "sf10")}
    for name in OPS:
        e = math.log10(out["sf10"][name]["wall_s"]
                       / out["sf1"][name]["wall_s"])
        out[f"exp_{name}"] = round(e, 2)
        print(f"  exp(sf1 -> sf10) {name} = {e:.2f}", flush=True)
    if "--sf100" in sys.argv:
        sf100_dir = os.environ.get("MDP_SF100_DIR", "/tmp/mdp_sf100emb_keep")
        ensure_embeddings_only(spark, "/root/testdata/sf0.1", sf100_dir, 1000)
        out["sf100"] = measure(spark, sf100_dir, "sf100")
        for name in OPS:
            e = math.log10(out["sf100"][name]["wall_s"]
                           / out["sf10"][name]["wall_s"])
            out[f"exp10_100_{name}"] = round(e, 2)
            print(f"  exp(sf10 -> sf100) {name} = {e:.2f}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
