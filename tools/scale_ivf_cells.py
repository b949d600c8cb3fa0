#!/usr/bin/env python
"""Round-9 measurement: the n_cells knob on single-probe IVF
(knn_ivf_probe, nprobe=1) ITSELF, at the deployment shape (fixed
|Q| = 200, sf100 = 2M vectors) — closing the r8 gap that the
k ~ sqrt(n) rule was only measured for semantic cells
(tools/scale_semantic_k.py) while the ANN fixed-|Q| curve pinned
cells = 8 (tools/scale_knn_fixedq.py).

What the sweep should show (and the reason the paper's k ~ sqrt(n)
is NOT the fixed-|Q| optimum): IVF cost = assignment (n * cells
staged-argmin distance folds, GROWS with cells) + in-cell scoring
(|Q| * n / cells, SHRINKS with cells). At fixed |Q| the optimum is
cells ~ sqrt(|Q|) ~ 14 — sqrt(n) applies when the query volume scales
with the corpus (the dedup/self-join shape, where every vector is a
query and both terms are n*cells + n²/cells -> cells ~ sqrt(n)).
Recall@5 vs exact matmul ground truth is reported per setting because
single-cell probe recall FALLS as cells grow — the cost optimum is
only meaningful on the recall curve it buys.

Ground truth: knn_matmul (exact BLAS top-k) on the same 200-query
batch. Same grown corpus as scale_knn_fixedq --sf100 (superset growth
model, seed-stable). The query batch is vec_id in [1000, 1200) — NOT
the [0, 200) batch scale_knn_fixedq times — because
deterministic_centroids seeds Lloyd with the LOWEST-ID vectors: at
cells=141 the [0,200) queries ARE the seeds, each effectively
anchoring its own cell, which measured an inflated recall@5 of 0.745
vs 0.30-0.40 at other settings (a first-pass artifact worth
recording: never evaluate IVF recall on the clustering's own seed
vectors). Timing is batch-invariant (same |Q|).

With --nprobe, a second sweep holds cells at 45 (near the wall
optimum) and buys recall back with nprobe in {1, 2, 4, 8} via
knn_ivf_probe — the deployment-guidance curve: probe cost scales the
|Q|*n/cells scoring term by nprobe while assignment stays fixed.

Usage: python tools/scale_ivf_cells.py [--nprobe]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators.similarity import (
    knn_ivf_probe, knn_matmul)
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_heavy import best_of
from tools.scale_knn_fixedq import ensure_embeddings_only

CELLS = (8, 14, 45, 141)
Q_LO, Q_HI = 1000, 1200  # disjoint from the Lloyd lowest-id seeds


def neighbor_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def main():
    spark = get_spark("scale-ivf-cells", shuffle_partitions=32)
    sf100_dir = os.environ.get("MDP_SF100_DIR", "/tmp/mdp_sf100emb_keep")
    ensure_embeddings_only(spark, "/root/testdata/sf0.1", sf100_dir, 1000)
    emb = load_table(spark, sf100_dir, "embeddings")
    q = emb.filter((F.col("vec_id") >= Q_LO) & (F.col("vec_id") < Q_HI))
    assert q.count() == Q_HI - Q_LO

    t0 = time.time()
    truth = neighbor_sets(knn_matmul(emb, q, k=5).collect())
    print(f"exact ground truth (knn_matmul) in {time.time() - t0:.1f}s",
          flush=True)

    out = {}
    cells_sweep = CELLS if "--nprobe" not in sys.argv else ()
    for cells in cells_sweep:
        best, c = best_of(spark, lambda: knn_ivf_probe(
            emb, q, k=5, n_cells=cells, nprobe=1)
            .write.format("noop").mode("overwrite").save())
        sh_w = c["shuffle_write_bytes"]
        got = neighbor_sets(knn_ivf_probe(emb, q, k=5, n_cells=cells,
                                          nprobe=1).collect())
        hits = sum(len(got.get(qid, set()) & t) for qid, t in truth.items())
        recall = hits / sum(len(t) for t in truth.values())
        out[f"cells{cells}"] = {
            "wall_s": round(best, 2),
            "shuffle_write_mb": round(sh_w / 1e6, 1),
            "recall_at_5": round(recall, 3),
        }
        print(f"  cells={cells:4d} wall={best:7.2f}s "
              f"write={sh_w / 1e6:8.1f}MB recall@5={recall:.3f}", flush=True)
    if "--nprobe" in sys.argv:
        for nprobe in (1, 2, 4, 8):
            best, c = best_of(spark, lambda: knn_ivf_probe(
                emb, q, k=5, n_cells=45, nprobe=nprobe)
                .write.format("noop").mode("overwrite").save())
            sh_w = c["shuffle_write_bytes"]
            got = neighbor_sets(
                knn_ivf_probe(emb, q, k=5, n_cells=45,
                              nprobe=nprobe).collect())
            hits = sum(len(got.get(qid, set()) & t)
                       for qid, t in truth.items())
            recall = hits / sum(len(t) for t in truth.values())
            out[f"c45_np{nprobe}"] = {
                "wall_s": round(best, 2),
                "shuffle_write_mb": round(sh_w / 1e6, 1),
                "recall_at_5": round(recall, 3),
            }
            print(f"  cells=45 nprobe={nprobe} wall={best:7.2f}s "
                  f"write={sh_w / 1e6:8.1f}MB recall@5={recall:.3f}",
                  flush=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
