#!/usr/bin/env python
"""Round-13 measurement: BPE training and containment dedup decades.

- bpe_train (8 merges) runs on the DISTINCT-WORD table: the replica
  growth multiplies vocabulary ~linearly (suffix ~rN per replica) —
  the adversarial regime for a vocab-sized loop; wall per decade
  reported alongside vocab size.
- containment_pairs: prefix-vs-inverted-index candidates; replicas
  have disjoint shingle spaces (suffixed tokens), so collisions stay
  within replicas and the candidate mass should scale ~linearly.

Usage: python tools/scale_bpe_contain.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.functions import text as X
from medallion_data_pipeline_spark.operators import bpe as B
from medallion_data_pipeline_spark.operators.dedup import containment_pairs
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table


def measure(spark, sf_dir, label, n_merges: int = 8):
    out = {"label": label}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    wc = (docs.select(F.explode(X.words(F.col("text"))).alias("word"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))).persist()
    out["vocab"] = wc.count()
    t0 = time.time()
    merges, words = B.bpe_train(wc, n_merges)
    out["bpe_train_s"] = round(time.time() - t0, 2)
    out["last_merge"] = merges[-1]["merged"]
    words.unpersist()

    # VERDICT r13 #3 acceptance: batched disjoint merges vs the
    # sequential loop at equal vocabulary size — merges/sec and the
    # Spark-job count (2 per ITERATION batched vs 2 per MERGE
    # sequential; >= 5x fewer jobs at batch 8 by construction, shown
    # here as measured wall + counted iterations).
    for batch in (1, 4, 8):
        t0 = time.time()
        bm, bw = B.bpe_train_batched(wc, n_merges, batch=batch)
        wall = round(time.time() - t0, 2)
        bw.unpersist()
        out[f"batched_{batch}_s"] = wall
        out[f"batched_{batch}_merges"] = len(bm)
        out[f"batched_{batch}_mps"] = round(len(bm) / max(wall, 1e-9), 2)
    wc.unpersist()

    t0 = time.time()
    pairs = containment_pairs(docs, threshold=0.8)
    out["contain_pairs"] = pairs.count()
    out["contain_s"] = round(time.time() - t0, 2)
    return out


def main() -> None:
    spark = get_spark("scale-bpe-contain", shuffle_partitions=32)
    for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"),
                          ("sf1", "/tmp/mdp_sf1_keep"),
                          ("sf10", "/tmp/mdp_sf10_keep")):
        if os.path.isdir(sf_dir):
            print(json.dumps(measure(spark, sf_dir, label)), flush=True)


if __name__ == "__main__":
    main()
