#!/usr/bin/env python
"""Scaled-k addendum for docs/SCALING.md: semantic_dedup_cells at sf1.

The benched `dedup_semantic_cells` query pins k=4 cells so the DuckDB
oracle can replay the exact clustering — at a fixed k, in-cell pair
scoring is sum over cells of |cell|^2 ~ n^2/k, quadratic by
construction. The operator's documented scale path (SemDeDup, Abbas et
al. 2023) is k ~ sqrt(n): constant expected cell occupancy makes
in-cell work linear in n. This tool measures both on the SAME grown
sf1 corpus (10x sf0.1, via tools/scale_heavy.grow_sf1) so the scaling
table can cite a number, not a docstring.

Usage: python tools/scale_semantic_k.py [replicas]
    replicas: growth factor over sf0.1 (default 10 = sf1; 100 = sf10)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.operators.similarity import semantic_dedup_cells
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_heavy import grow_sf1


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-semantic-k", shuffle_partitions=32)
    sf1_dir = tempfile.mkdtemp(prefix="mdp_sfk_")
    out = {}
    try:
        t0 = time.time()
        grow_sf1(spark, "/root/testdata/sf0.1", sf1_dir, replicas=replicas)
        print(f"grown {replicas}x in {time.time() - t0:.1f}s", flush=True)
        emb = load_table(spark, sf1_dir, "embeddings")
        n = emb.count()
        k_scaled = max(4, int(round(math.sqrt(n) / math.sqrt(5000) * 4)))
        for label, k in (("k4_pinned", 4), (f"k{k_scaled}_sqrt_n", k_scaled)):
            # warm once (codegen), then min-of-2 timed, same as scale_heavy
            semantic_dedup_cells(emb, k=k).write.format("noop") \
                .mode("overwrite").save()
            best = float("inf")
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.time()
                semantic_dedup_cells(emb, k=k).write.format("noop") \
                    .mode("overwrite").save()
                best = min(best, time.time() - t0)
            rows = semantic_dedup_cells(emb, k=k).count()
            out[label] = {"k": k, "wall_s": round(best, 2), "pairs": rows}
            print(f"  sf1 n={n} {label:16s} wall={best:6.2f}s pairs={rows}",
                  flush=True)
    finally:
        shutil.rmtree(sf1_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
