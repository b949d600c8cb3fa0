#!/usr/bin/env python
"""Third-decade scaling point: sf10 (100x sf0.1, ~60M lineitem rows,
500K documents, 200K embeddings) for the linear-tier heavy queries.

Reuses scale_heavy.grow_sf1 with replicas=100 — the same
duplicate-density-preserving growth model (token-suffix document
replicas, fresh uniform unit vectors, key-offset facts) — so the
sf1 -> sf10 exponent extends the docs/SCALING.md curve one more
decade.

Excluded by design, with reasons the table should cite:
- knn_cosine_pq_adc / knn tier: the benched query set is vec_id % 50,
  so |Q| grows with the corpus and ADC scoring is n*|Q| ~ n^2 BY
  QUERY CONSTRUCTION (a real deployment scores a fixed query batch);
  the compressed-corpus scan itself is linear.
- dedup_semantic_cells / dedup_embedding_lsh: on the uniform
  synthetic embeddings both the >=0.42 output pairs and (for fixed
  k / n_planes pinned by the oracles) the candidate arithmetic grow
  ~n^2 — a data/parameter property already measured and discussed at
  sf1. (embedding_lsh IS attempted here: its in-bucket BLAS
  arithmetic at n=200K is ~10^10 mults, which 32 cores absorb in
  minutes; pass --no-lsh to skip.)

Usage:
    python tools/scale_sf10.py [--no-lsh]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.session import get_spark
from tools.scale_heavy import best_of, grow_sf1

QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_span_intervals",
    "dedup_clusters",
    "contamination_check",
    "dashboard_wide",
)
LSH = "dedup_embedding_lsh"


def main() -> None:
    spark = get_spark("scale-sf10", shuffle_partitions=32)
    from medallion_data_pipeline_spark.queries import REGISTRY, _load
    _load()

    names = list(QUERIES) + ([] if "--no-lsh" in sys.argv else [LSH])
    print("warm-up at sf0.001", flush=True)
    for name in names:
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()

    sf10_dir = tempfile.mkdtemp(prefix="mdp_sf10_")
    out = {}
    try:
        print(f"== growing sf10 (100x sf0.1) -> {sf10_dir} ==", flush=True)
        t0 = time.time()
        grow_sf1(spark, "/root/testdata/sf0.1", sf10_dir, replicas=100)
        print(f"   grown in {time.time() - t0:.1f}s", flush=True)
        for name in names:
            q = REGISTRY[name]
            # min-of-2: the first rep after the 6 GB growth reads a
            # cold page cache and the host has noise windows — the
            # single-shot first pass measured dedup_ngram_jaccard at
            # 152 s vs 56 s warm/min
            best, c = best_of(spark, lambda: q.fn(spark, sf10_dir).write
                              .format("noop").mode("overwrite").save())
            sh_w = c["shuffle_write_bytes"]
            n_rows = q.fn(spark, sf10_dir).count()
            out[name] = {"wall_s": round(best, 2),
                         "shuffle_write_mb": round(sh_w / 1e6, 1),
                         "rows": n_rows}
            print(f"  sf10 {name:24s} {best:8.2f}s "
                  f"write={sh_w/1e6:9.1f}MB rows={n_rows}", flush=True)
    finally:
        shutil.rmtree(sf10_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
