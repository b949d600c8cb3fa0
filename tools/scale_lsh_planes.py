#!/usr/bin/env python
"""Round-8 measurement: the `n_planes ~ log2 n` knob for
embedding_lsh_pairs at the third decade (sf10, 200K vectors).

docs/SCALING.md's only exp>1 datum is dedup_embedding_lsh at sf10
with the ORACLE-PINNED 4-plane x 8-table bucketing (candidate
arithmetic ∝ T * n² / 2^P grows x100 when only n grows). The operator
docstring prescribes the fix — grow n_planes with log2(n), raise
n_tables to hold recall — but until this run that was an argument,
not a measurement.

Sweep design: every config holds the THEORETICAL RECALL AT THE
THRESHOLD constant at the pinned pair's 0.765 (c=0.42, p = 1 -
arccos(c)/pi = 0.638; recall = 1-(1-p^P)^T, so T = ln(1-0.765) /
ln(1-p^P)):

    planes  4    6    7    8    10
    tables  8   21   33   52   129

The log2 rule says sf1(20K, 4 planes) -> sf10(200K) wants
4 + log2(10) ≈ 7.3 planes, so (7, 33) is the rule point; 6/8/10
bracket it. The trade is measured, not assumed: candidate arithmetic
falls as (2p)^P while the exploded Arrow/shuffle volume rises as
n x T — the sweep records wall, shuffle write, and the OUTPUT PAIR
COUNT (a direct recall observable: within-bucket scoring is exact, so
precision is 1 and pairs-found is proportional to recall on the same
corpus).

Growth model + min-of-2 + shuffle deltas identical to
tools/scale_sf10.py. Corpora are grown into $MDP_SF1_DIR /
$MDP_SF10_DIR (defaults /tmp/mdp_sf1_keep, /tmp/mdp_sf10_keep) and
REUSED if present — delete the dirs to force a regrow.

With --sf100 the sweep instead runs at the FOURTH decade (the
embeddings-only 2M-vector corpus from tools/scale_knn_fixedq.py)
on the subset of configs whose exploded volume fits this host
((4,8), (6,21), (7,33) — (10,129) would ship 258M exploded rows
≈ 134 GB through the shuffle). This tests addendum 1's PREDICTION:
at the next decade the in-bucket n²/2^P arithmetic regrows ×100
while transfer grows ×10, so the optimum should move UP in planes
(at sf10 it sat at 6).

Usage: python tools/scale_lsh_planes.py [--skip-10 | --sf100]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.operators.similarity import embedding_lsh_pairs
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_heavy import best_of, grow_sf1

# (n_planes, n_tables) all at theoretical recall 0.765 @ c=0.42
SWEEP = [(4, 8), (6, 21), (7, 33), (8, 52), (10, 129)]


def ensure(spark, base, out, replicas):
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        t0 = time.time()
        grow_sf1(spark, base, out, replicas=replicas)
        print(f"grown {out} (x{replicas}) in {time.time() - t0:.1f}s",
              flush=True)


def measure(spark, sf_dir, label, planes, tables):
    emb = load_table(spark, sf_dir, "embeddings")
    best, c = best_of(spark, lambda: embedding_lsh_pairs(
        emb, threshold=0.42, n_planes=planes, n_tables=tables)
        .write.format("noop").mode("overwrite").save())
    sh_w = c["shuffle_write_bytes"]
    pairs = embedding_lsh_pairs(emb, threshold=0.42, n_planes=planes,
                                n_tables=tables).count()
    rec = {"wall_s": round(best, 2),
           "shuffle_write_mb": round(sh_w / 1e6, 1), "pairs": pairs}
    print(f"  {label} planes={planes:2d} tables={tables:3d} "
          f"{best:8.2f}s write={sh_w / 1e6:9.1f}MB pairs={pairs}",
          flush=True)
    return rec


def main() -> None:
    spark = get_spark("scale-lsh-planes", shuffle_partitions=32)
    sf1_dir = os.environ.get("MDP_SF1_DIR", "/tmp/mdp_sf1_keep")
    sf10_dir = os.environ.get("MDP_SF10_DIR", "/tmp/mdp_sf10_keep")
    ensure(spark, "/root/testdata/sf0.1", sf1_dir, 10)

    # warm-up (codegen/JIT) at sf0.001 on the pinned config
    warm = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    embedding_lsh_pairs(warm, threshold=0.42) \
        .write.format("noop").mode("overwrite").save()

    if "--sf100" in sys.argv:
        from tools.scale_knn_fixedq import ensure_embeddings_only
        sf100_dir = os.environ.get("MDP_SF100_DIR", "/tmp/mdp_sf100emb_keep")
        ensure_embeddings_only(spark, "/root/testdata/sf0.1", sf100_dir, 1000)
        out = {"sf100": {}}
        for planes, tables in [(4, 8), (6, 21), (7, 33)]:
            out["sf100"][f"{planes}x{tables}"] = measure(
                spark, sf100_dir, "sf100", planes, tables)
        print(json.dumps(out))
        return

    out = {"sf1": {}, "sf10": {}}
    out["sf1"]["4x8"] = measure(spark, sf1_dir, "sf1 ", 4, 8)

    if "--skip-10" not in sys.argv:
        ensure(spark, "/root/testdata/sf0.1", sf10_dir, 100)
        for planes, tables in SWEEP:
            out["sf10"][f"{planes}x{tables}"] = measure(
                spark, sf10_dir, "sf10", planes, tables)
            base = out["sf1"]["4x8"]["wall_s"]
            exp = (0 if base <= 0 else
                   round(__import__("math").log10(
                       out["sf10"][f"{planes}x{tables}"]["wall_s"] / base), 2))
            print(f"    -> exp(sf1 4x8 -> sf10 {planes}x{tables}) = {exp}",
                  flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
